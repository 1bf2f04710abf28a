"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload crawl_images --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything is built from the checkout's
own sources (no installed copy of the engine is imported) and everything
the run writes lands under ``.bench_build/perfbench`` in the checkout.

Workloads (see ``perfbench/README.md`` for why each was chosen and which
layer metric moves which end-to-end metric):

- ``crawl_images``: validated crawls (decode, pHash, PSNR, features64)
  from a seeded seed list, checked against the golden simulator, then a
  zero-epoch ``crawl(resume=True)``.
- ``queries_headline``: a fixed subset of ``bench.HEADLINE`` over seeded
  tables, in seed-shuffled interleaved passes after an untimed warm-up
  that checks every result against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (``perfbench/layers.py``). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "whakoom_webscrapper_spark"

# The validated crawl. 128 seeds and a large per-host budget put ~400
# pages through decode and validation in two epochs, on a world small
# enough to build twice per run.
CRAWLS = {
    "crawl_images": dict(
        n_urls=500, hosts=16, fanout=8, n_seeds=128, budget_scale=8,
        epochs=2, validate=True,
    ),
}
# One query per operator family of bench.HEADLINE, cheap enough that the
# warm-up passes plus three or four timed passes fit one run. Three of them
# reach operators/dedup.py; dup_clusters reaches operators/similarity.py
# (through embedding_dup_pairs) and operators/components.py. A query
# without an oracle would be checked by its row count only.
QUERIES = [
    "pricing_summary",
    "events_dedup",
    "url_canonicalize",
    "html_extract_links",
    "passage_dup_stats",
    "minhash_verified_pairs",
    "dup_clusters",
]
SETUP_REPEATS = {"crawl_images": 2, "queries_headline": 3}
# untimed passes of the query set before the timed ones: the first collects
# every result and runs about twice as slow as a warm pass, the next ones
# still 10-20% slower, and the JIT compiler threads still take a quarter of
# the CPU of a pass after three
WARMUP_PASSES = 4
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rate_per_s": "1/s",
    "step_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def measured_enough(t_start: float, last_s: float, seconds: float) -> bool:
    """True once another step would take the measured time further from
    ``seconds`` than stopping now: a loop that asks after each whole step
    measures the count of steps whose total is nearest ``seconds``, and at
    least one."""
    return time.perf_counter() - t_start + last_s / 2 >= seconds


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Sampler:
    """Samples the process tree's resident memory until stopped."""

    PERIOD_S = 0.25

    def __init__(self):
        from perfbench import reduce as R

        self._R = R
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._R.tree_rss_mb(os.getpid()))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def start_spark(work: str, trace: bool):
    from whakoom_webscrapper_spark.session import get_spark

    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file, readable without Spark's codecs
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    n = nproc()
    return get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_confs=confs
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it and for every
    process it started (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench import reduce as R

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(R.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def git_state() -> dict:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return {"sha": None, "dirty": None}
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip() != ""
    except (OSError, subprocess.SubprocessError):
        return {"sha": None, "dirty": None}
    return {"sha": sha, "dirty": dirty}


def run_record(spark, args, params: dict) -> dict:
    import platform

    import pyspark

    from whakoom_webscrapper_spark import queries as Q
    from whakoom_webscrapper_spark.plans import frontier as FP

    sc = spark.sparkContext
    jvm = spark._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "params": params,
        **git_state(),
        "queries_file": Q.__file__,
        "frontier_file": FP.__file__,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "nproc": nproc(),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "driver_heap_max_mb": round(
            jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20, 1
        ),
    }


def check_resolution(checks) -> None:
    """The engine must be the checkout's own copy, never an installed or
    sibling tree."""
    from whakoom_webscrapper_spark import queries as Q
    from whakoom_webscrapper_spark.plans import frontier as FP

    for mod in (Q, FP):
        path = os.path.realpath(mod.__file__)
        if not checks.check(path.startswith(os.path.realpath(ROOT) + os.sep),
                            f"resolution:{mod.__name__}"):
            fail(f"{mod.__name__} resolves outside the checkout: {path}")


# ---------------------------------------------------------------------------
# Crawl workloads
# ---------------------------------------------------------------------------
def seed_ids(w: dict, seed: int) -> list[int]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return sorted(int(i) for i in rng.choice(w["n_urls"], w["n_seeds"], replace=False))


def write_seeds(world: str, w: dict, seed: int) -> list[str]:
    """Replace the world's seed list with one drawn from the workload seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from whakoom_webscrapper_spark import datagen

    ids = seed_ids(w, seed)
    urls = [datagen.url_of(i, w["hosts"]) for i in ids]
    path = os.path.join(world, "seeds")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        pa.table({"url": urls, "priority": pa.array(
            [datagen.priority_of(i) for i in ids], pa.int32())}),
        os.path.join(path, "part-00000.parquet"),
    )
    return urls


def build_world(spark, world: str, w: dict, seed: int) -> list[str]:
    from whakoom_webscrapper_spark import datagen

    datagen.write_world(
        spark, world, w["n_urls"], w["hosts"], fanout=w["fanout"],
        n_seeds=w["n_seeds"], partitions=nproc(), budget_scale=w["budget_scale"],
    )
    return write_seeds(world, w, seed)


def crawl_config(w: dict, world: str, state: str, profile: bool = False):
    from whakoom_webscrapper_spark.plans import frontier as FP

    return FP.CrawlConfig(
        state_dir=state, world_dir=world, max_epochs=w["epochs"],
        frontier_partitions=nproc(), validate=w["validate"],
        profile_phases=profile,
    )


def commit_markers(state: str) -> list[dict]:
    from whakoom_webscrapper_spark.plans import frontier as FP

    out = []
    for e in FP.committed_epochs(FP.CrawlConfig(state_dir=state, world_dir="")):
        with open(os.path.join(state, "lineage", f"_commit_epoch_{e}.json")) as f:
            out.append(json.load(f))
    return out


def timed_crawl(spark, w: dict, world: str, state: str, profile: bool = False):
    from whakoom_webscrapper_spark.plans import frontier as FP

    cfg = crawl_config(w, world, state, profile)
    t0 = time.perf_counter()
    FP.crawl(spark, cfg, overwrite=True)
    wall = time.perf_counter() - t0
    return wall, commit_markers(state)


def timed_resume(spark, w: dict, world: str, state: str):
    from whakoom_webscrapper_spark.plans import frontier as FP

    cfg = crawl_config(w, world, state)
    t0 = time.perf_counter()
    result = FP.crawl(spark, cfg, resume=True)
    return time.perf_counter() - t0, result["epochs_run"]


def check_crawl(spark, w: dict, state: str, seed_urls: list[str], markers, checks):
    """Golden-simulator parity plus, with validation on, every page's flags."""
    from pyspark.sql import functions as F

    from perfbench import reduce as R
    from tests import golden_sim

    g_seen, g_log = golden_sim.simulate(
        w["n_urls"], w["hosts"], w["fanout"], seed_urls,
        max_epochs=w["epochs"], budget_scale=w["budget_scale"],
    )
    seen = {(r["url"], r["status"]) for r in
            spark.read.parquet(os.path.join(state, "seen")).select("url", "status").collect()}
    pages = spark.read.parquet(os.path.join(state, "pages"))
    log = [tuple(r) for r in
           pages.select("fetch_epoch", "host", "host_rank", "url").collect()]
    failed = R.compare_crawl(seen, log, g_seen, g_log, sum(m["fetched"] for m in markers))
    for name in ("seen_membership", "host_ordering", "fetched_count"):
        checks.check(name not in failed, f"golden:{name}")
    if w["validate"]:
        bad = pages.filter(
            ~F.col("phash_match") | ~F.col("pixel_ok") | ~F.col("caption_match")
        ).count()
        checks.check(bad == 0, "pages_validated")


def run_crawl(spark, args, w: dict, work: str, checks, session_s: float, trace: bool):
    from perfbench import reduce as R

    world = os.path.join(work, "world")
    state = os.path.join(work, "state")
    builds = []
    for _ in range(SETUP_REPEATS[args.workload]):
        t0 = time.perf_counter()
        seed_urls = build_world(spark, world, w, args.seed)
        builds.append(time.perf_counter() - t0)

    # untimed warm-up: a one-epoch crawl of the same world, so the measured
    # crawls run in a JVM whose planner and code paths are already compiled
    # (a long crawl amortizes that cost over its epochs)
    warmup_s, _ = timed_crawl(spark, dict(w, epochs=1), world, state)

    walls, rates, epochs = [], [], []
    cpu0, steal0 = R.tree_cpu_s(os.getpid()), R.steal_s()
    t_start = time.perf_counter()
    while True:
        wall, markers = timed_crawl(spark, w, world, state)
        walls.append(wall)
        pages = sum(m["fetched"] for m in markers)
        rates.append(pages / wall)
        epochs += [m["duration_s"] for m in markers]
        checks.check(len(markers) == w["epochs"], "epochs_committed")
        if measured_enough(t_start, wall, args.seconds):
            break
    cpu, steal = R.tree_cpu_s(os.getpid()) - cpu0, R.steal_s() - steal0
    resume_s, resumed = timed_resume(spark, w, world, state)
    checks.check(resumed == 0, "resume_runs_no_epoch")
    check_crawl(spark, w, state, seed_urls, markers, checks)

    metrics = {
        "setup_s": session_s + statistics.median(builds),
        "pass_s": statistics.median(walls),
        "rate_per_s": statistics.median(rates),
        "step_s": statistics.median(epochs),
        "cpu_s": cpu / len(walls),
    }
    report = {
        "crawl_urls_per_s": R.summarize(rates),
        "crawl_wall_s": R.summarize(walls),
        "epoch_s": {**R.summarize(epochs), "max": max(epochs)},
        "resume_s": resume_s,
        "pages_per_crawl": pages,
        "setup_builds_s": builds,
        "warmup_crawl_s": warmup_s,
        "steal_s": steal,
    }
    layers = {}
    if trace:
        from perfbench import layers as L

        layers = L.trace_crawl(spark, w, world, state, statistics.median(walls))
        layers["frontier.resume_s"] = resume_s
        layers.update(L.trace_queries_cross(spark, work, args.seed))
    return metrics, report, layers


# ---------------------------------------------------------------------------
# Query workload
# ---------------------------------------------------------------------------
def query_order(seed: int, rep: int) -> list[str]:
    import numpy as np

    # warm-up passes are reps -WARMUP_PASSES..-1, timed passes 0, 1, ...
    rng = np.random.default_rng([seed % 2**32, rep + WARMUP_PASSES])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def run_queries(spark, args, work: str, checks, session_s: float, trace: bool):
    import bench

    from perfbench import oracle
    from perfbench import reduce as R
    from perfbench import tables
    from whakoom_webscrapper_spark import queries as Q

    missing = [q for q in QUERIES if q not in bench.HEADLINE]
    if missing:
        fail(f"not in bench.HEADLINE: {missing}")
    tdir = os.path.join(work, "tables")
    builds = []
    for _ in range(SETUP_REPEATS[args.workload]):
        t0 = time.perf_counter()
        fingerprint = tables.write(tdir, args.seed)
        builds.append(time.perf_counter() - t0)

    # untimed warm-up, first pass: collect every result
    results = {}
    for name in query_order(args.seed, -WARMUP_PASSES):
        df = Q.SPARK_QUERIES[name](spark, tdir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
    expected_rows = {name: len(rows) for name, (_, rows) in results.items()}

    def verdicts() -> dict[str, bool]:
        out = {}
        with oracle.Oracle(tdir, fingerprint, os.path.join(ROOT, ".bench_build", "perfbench", "oracle")) as orc:
            for name, (cols, rows) in results.items():
                if name in Q.ORACLE_SQL:
                    out[f"oracle:{name}"] = orc.matches(Q.ORACLE_SQL[name], cols, rows)
                else:
                    out[f"rows:{name}"] = len(rows) > 0
        return out

    def one_pass(rep: int, samples: dict[str, list[float]]) -> tuple[float, float]:
        """Wall and process-tree CPU seconds of one pass of the set."""
        cpu0, t_pass = R.tree_cpu_s(os.getpid()), time.perf_counter()
        for name in query_order(args.seed, rep):
            t0 = time.perf_counter()
            n = bench.exhaust(Q.SPARK_QUERIES[name](spark, tdir))
            samples[name].append(time.perf_counter() - t0)
            checks.check(n == expected_rows[name], f"rowcount:{name}")
        return time.perf_counter() - t_pass, R.tree_cpu_s(os.getpid()) - cpu0

    # DuckDB checks the collected results while the other warm-up passes
    # run: both are untimed, and an uncached oracle takes ~9 s
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        checked = pool.submit(verdicts)
        warmup = [one_pass(rep, {q: [] for q in QUERIES})[0]
                  for rep in range(1 - WARMUP_PASSES, 0)]
        for name, ok in checked.result().items():
            checks.check(ok, name)

    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes, cpus = [], []
    steal0 = R.steal_s()
    t_start = time.perf_counter()
    rep = 0
    while True:
        wall, cpu = one_pass(rep, samples)
        passes.append(wall)
        cpus.append(cpu)
        rep += 1
        if measured_enough(t_start, wall, args.seconds):
            break
    steal = R.steal_s() - steal0

    per_query = {q: statistics.median(v) for q, v in samples.items()}
    total = sum(per_query.values())
    metrics = {
        "setup_s": session_s + statistics.median(builds),
        "pass_s": total,
        "rate_per_s": len(QUERIES) / total,
        "step_s": statistics.geometric_mean(per_query.values()),
        "cpu_s": statistics.median(cpus),
    }
    report = {
        "queries_total_s": total,
        "pass_wall_s": R.summarize(passes),
        "warmup_pass_s": warmup,
        "per_query_s": {q: R.summarize(v) for q, v in samples.items()},
        "setup_builds_s": builds,
        "steal_s": steal,
    }
    layers = {}
    if trace:
        from perfbench import layers as L

        layers = L.trace_queries(spark, tdir, query_order(args.seed, rep), total)
        layers.update(L.trace_crawl_cross(spark, work, args.seed))
    return metrics, report, layers


# ---------------------------------------------------------------------------
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*CRAWLS, "queries_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"no {PACKAGE} package beside perfbench/ (run from a full checkout)")

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every reader of the engine resolves it from this checkout: the
    # driver through sys.path, the Spark Python workers through PYTHONPATH
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    saved_env = {k: os.environ.get(k) for k in ("TMPDIR", "PYTHONPATH")}
    saved_tempdir = tempfile.tempdir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    from perfbench import reduce as R

    checks = R.Checks()
    spark = None
    try:
        with Sampler() as sampler:
            t0 = time.perf_counter()
            spark = start_spark(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            check_resolution(checks)
            if args.workload in CRAWLS:
                params = CRAWLS[args.workload]
                metrics, report, layers = run_crawl(
                    spark, args, params, work, checks, session_s, bool(args.trace))
            else:
                from perfbench import tables

                params = {"queries": QUERIES, "tables_rows": tables.ROWS}
                metrics, report, layers = run_queries(
                    spark, args, work, checks, session_s, bool(args.trace))
            record = run_record(spark, args, params)
            metrics["peak_rss_mb"] = sampler.peak_mb
        stop_spark(spark)
        spark = None
        if args.trace:
            from perfbench import layers as L

            window = layers.pop("_window_ms")
            layers.update(L.spark_metrics(os.path.join(work, "eventlog"), window))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v

    report["failed_share"] = R.failed_share(checks.failed, checks.attempted)
    report["failed_checks"] = checks.failures
    print("run_record " + json.dumps(record, sort_keys=True))
    print("report " + json.dumps(report, sort_keys=True))
    if args.trace:
        from perfbench import layers as L

        out = {k: {"value": layers[k], "unit": u} for k, u in L.per_layer_units().items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
