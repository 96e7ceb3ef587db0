#!/usr/bin/env python3
"""Layered benchmark of the streamchange_spark pipeline.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # one row per workload

Run from the root of a checkout. Each run starts one local Spark session
(``local[$SPARK_GRAFT_CPUS]``, default ``nproc``), builds its inputs from
``--seed``, sets up, then runs closed-loop iterations of the workload until
``--seconds`` have passed (at least one). Every timed result is checked;
a failed check counts in ``failed`` and makes the exit code 1.

Workloads:

- ``daily_cycle``: restore a base store holding day 1, ``run_pipeline`` day
  2, ``refresh_pipeline`` a late shard dated into both days, then a seeded
  mix of tier queries (url-pruned reads, range and merge reads, a Gorilla
  decode, one ``purge_url``) on the store the cycle just wrote.
- ``stream_ingest``: the five ``run_streaming_*_ingest`` twins over two
  day-files (one file per micro-batch) and each family's whole
  ``*_from_ingest`` read, then url- or hour-scoped reads of the same.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of one traced iteration, and
the spans are written to ``.perfbench/traces/``. Work files live under
``.perfbench/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_cycle", "stream_ingest")
SHAPE = dict(
    urls=600, mean_snapshots=8, days=2,
    freq_drop_share=0.03, churn_share=0.03, late_share=0.02,
)
TIER_COLS = [
    "url", "bucket_start", "n_points", "sum_v", "min_v", "max_v",
    "first_ts", "first_v", "last_ts", "last_v",
]
#: daily_cycle reads around the iteration's ``purge_url``, each list in a
#: seeded order. point and pctl_1d run on both sides, so their spans show
#: what the merge-on-read tombstones cost a read (about 2x for a point
#: read). Of the 16 operations, p50 falls among the six tombstoned point
#: reads and p90 between the two percentile merges, so neither sits on a
#: boundary between read types.
PRE_PURGE = ["point"] * 3 + ["pctl_1d"]
POST_PURGE = ["point"] * 6 + ["pctl_1d", "state_range", "gorilla", "trend_1d", "kmv_1d"]
#: url- or hour-scoped reads per streaming family per iteration, after the
#: timed ingest and whole-tier reads
SCOPED_READS = 2
HEAP = "1g"
FAMILIES = ("kmv", "sketch", "stats", "state", "signature")
DETECTORS = ("textlen", "freq", "churn")
#: a run stops starting iterations once this much wall time has passed
RUN_DEADLINE_S = 120.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# checks


class Checks:
    """Attempted and failed operations; a failure is an exception or a
    result that differs from its oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)


def frames_equal(a, b, keys, rtol: float = 0.0) -> bool:
    """Same rows (order-free); float columns within ``rtol`` when given."""
    import numpy as np

    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    a = a.sort_values(keys).reset_index(drop=True)
    b = b[list(a.columns)].sort_values(keys).reset_index(drop=True)
    for c in a.columns:
        x, y = a[c], b[c]
        if rtol and x.dtype.kind == "f":
            if not np.allclose(x.to_numpy(float), y.to_numpy(float), rtol=rtol,
                               atol=1e-9, equal_nan=True):
                return False
        elif x.dtype == object:
            if [_plain(v) for v in x] != [_plain(v) for v in y]:
                return False
        elif not x.equals(y):
            return False
    return True


def _plain(v):
    if hasattr(v, "tolist"):
        return v.tolist()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


# --------------------------------------------------------------------------
# environment


def pin_environment(work: str) -> dict:
    """Process-level settings every run shares; returned for the report."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # python workers import the engine and the benchmark's own modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path[:0] = [ROOT, HERE]
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": int(cpus), "heap": HEAP,
            "cpu_probe_ms": cpu_probe_ms()}


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-core Python loop: a host-speed reading
    to set beside the run's figures (shared hosts drift)."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(2_000_000):
        acc ^= k * 2654435761 & 0xFFFF
    return round((time.perf_counter() - t0) * 1000, 1)


def start_spark(work: str):
    from streamchange_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": HEAP,
            # the session factory's JVM flags, plus a temp dir in the checkout
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (closing
    its stdin is how PySpark tells the gateway process to end)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


# --------------------------------------------------------------------------
# per-layer probes shared by both workloads


class TimedDetector:
    """The pipeline's default detector, passed as ``detector_factory`` to
    ``run_pipeline`` in the traced iteration. Each fit adds its kernel
    time and series length to ``acc``, keyed by the Spark stage it ran
    in."""

    acc = None

    def __init__(self):
        from streamchange_spark.pipeline import default_detector_factory

        self.inner = default_detector_factory()

    def fit(self, x, times=None):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        self.inner.fit(x, times=times)
        tc = TaskContext.get()
        TimedDetector.acc.add({tc.stageId(): {
            "python_s": time.perf_counter() - t0, "points": len(x), "series": 1,
        }})
        return self

    @property
    def detections_(self):
        return self.inner.detections_


def kernel_accumulator(sc):
    """stage id -> summed fit figures of the detector kernels in it"""
    from pyspark import AccumulatorParam

    class StageFits(AccumulatorParam):
        def zero(self, v):
            return {}

        def addInPlace(self, a, b):
            for stage, fits in b.items():
                cur = a.setdefault(stage, {"python_s": 0.0, "points": 0, "series": 0})
                for k, v in fits.items():
                    cur[k] += v
            return a

    return sc.accumulator({}, StageFits())


def kernel_stats(spark, by_stage: dict, r1: dict) -> dict:
    """Per-scan detector figures of one traced ``run_pipeline``. The
    pipeline runs its scans in the order textlen, freq, churn, so the
    kernel stages sorted by id are the three scans in that order; the
    scan's wall time and change points are the pipeline's own figures."""
    stages = sorted(by_stage)
    if len(stages) != len(DETECTORS):
        print(f"# detect: {len(stages)} kernel stages, not one per scan; "
              f"per-scan kernel figures read 0", file=sys.stderr)
        stages = [None] * len(DETECTORS)
    tracker = spark.sparkContext.statusTracker()
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = {}
    for d, sid, (time_key, cp_key) in zip(DETECTORS, stages, (
        ("detect_sec", "changepoints"), ("freq_sec", "freq_changepoints"),
        ("churn_sec", "churn_changepoints"),
    )):
        fits = by_stage.get(sid, {})
        info = tracker.getStageInfo(sid) if sid is not None else None
        out[d] = {
            "scan_s": r1[time_key],
            "kernel_tasks": info.numTasks if info else 0,
            "shuffle_partitions": shuffle,
            "python_s": fits.get("python_s", 0.0),
            "series": fits.get("series", 0),
            "points": fits.get("points", 0),
            "changepoints": r1[cp_key],
        }
    return out


def operator_probes(tr, pages_df, late_df, tier_df) -> None:
    """Each tier builder's output forced to a ``noop`` sink over the
    workload's newest day (pages cached first, so a probe times the
    operator, not the parquet scan)."""
    from streamchange_spark import operators as O
    from streamchange_spark.pipeline import SIG_HASHES, extract_metrics

    pages = pages_df.cache()
    pages.count()
    metrics = extract_metrics(pages).cache()
    metrics.count()
    tier = O.rollup_raw(metrics, ["url"], "warc_ts", "text_len", "1h").cache()
    tier.count()
    late_tier = O.rollup_raw(
        extract_metrics(late_df), ["url"], "warc_ts", "text_len", "1h"
    )
    probes = {
        "rollup": lambda: O.rollup_all_tiers(metrics, ["url"], "warc_ts", "text_len")["1h"],
        "gorilla": lambda: O.compress_series(
            tier, ["url"], "bucket_start", "sum_v", chunk_points=65536
        ),
        "qsketch": lambda: O.sketch_tier(metrics, ["url"], "warc_ts", "text_len", tier="1h"),
        "kmv": lambda: O.kmv_tier(metrics, [], "warc_ts", "url", tier="1h"),
        "statsagg": lambda: O.stats_tier(metrics, ["url"], "warc_ts", "text_len", tier="1h"),
        "stateagg": lambda: O.encode_state_runs(
            pages, ["url"], "warc_ts", "lang", collapse=False
        ),
        "changescore": lambda: O.snapshot_signatures(
            pages, "url", "warc_ts", "text", num_hashes=SIG_HASHES, hash_fn="xxhash"
        ),
        "gapfill": lambda: O.gapfill(
            tier_df.select("url", "bucket_start", "n_points"),
            ["url"], "bucket_start", "n_points", step_seconds=3600, method="null",
        ),
        "merge": lambda: O.merge_tier([tier, late_tier], ["url"]),
    }
    for name, build in probes.items():
        with tr.span(f"operators.{name}"):
            build().write.format("noop").mode("overwrite").save()
    for df in (tier, metrics, pages):
        df.unpersist()


# --------------------------------------------------------------------------
# daily_cycle


def done(args, i: int, t_measure: float) -> bool:
    """Closed loop: keep starting iterations until ``--seconds`` have been
    measured (at least one). A traced run times exactly one iteration."""
    if i == 0:
        return False
    if args.trace or time.perf_counter() - T_START > RUN_DEADLINE_S:
        return True
    return time.perf_counter() - t_measure >= args.seconds


def daily_cycle(spark, tr, args, work, checks: Checks, made) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    import inputs as I
    import replay as R
    from streamchange_spark import operators as O
    from streamchange_spark.pipeline import (
        default_detector_factory,
        extract_metrics,
        refresh_pipeline,
        run_pipeline,
    )
    from streamchange_spark.sources.snapshots import SnapshotStore

    shape = SHAPE
    t0 = time.perf_counter()
    days = I.day_list(shape)
    new_day = days[-1]
    pages, info, drop_urls = made
    late = I.late_rows(pages, days[-2:], shape["late_share"], args.seed)
    I.write_day_files(pages, os.path.join(work, "days"), days)
    I.write_day_files(late, os.path.join(work, "late"), days[-2:])
    info["late_rows"] = int(len(late))
    info["late_days"] = days[-2:]
    read = spark.read.schema(I.SCHEMA_DDL).parquet
    base_df = read(*[os.path.join(work, "days", f"day={d}.parquet") for d in days[:-1]])
    day_df = read(os.path.join(work, "days", f"day={new_day}.parquet"))
    late_df = read(os.path.join(work, "late"))
    base_dir = os.path.join(work, "base")
    t1 = time.perf_counter()
    with tr.span("backfill"):
        r0 = run_pipeline(spark, base_df, base_dir)
    setup_s = time.perf_counter() - T_START
    info["setup_phases_s"] = {
        "session_and_pages": t0 - T_START, "input_files": t1 - t0,
        "base_build": T_START + setup_s - t1}

    # ---- oracles (outside every timed region)
    t_check = time.perf_counter()
    all_df = base_df.unionByName(day_df).unionByName(late_df)
    all_metrics = extract_metrics(all_df)
    oracle_dfs = {
        "tier": O.rollup_raw(all_metrics, ["url"], "warc_ts", "text_len", "1h")
        .select(TIER_COLS),
        "state": O.state_tier_from_runs(
            O.encode_state_runs(all_df, ["url"], "warc_ts", "lang", collapse=False),
            ["url"], "1d",
        ),
        "trend": O.stats_eval(O.stats_rollup(
            O.stats_tier(all_metrics, ["url"], "warc_ts", "text_len", tier="1h"),
            ["url"], "1d",
        )),
        "kmv": O.kmv_distinct(O.kmv_rollup(
            O.kmv_tier(all_metrics, [], "warc_ts", "url", tier="1h"), [], "1d",
        )),
        # a url-day holds far fewer points than the sketch's exact capacity
        # (201), so merged and from-scratch percentiles agree exactly
        "pctl": O.sketch_percentiles(O.sketch_rollup(
            O.sketch_tier(all_metrics, ["url"], "warc_ts", "text_len", tier="1h"),
            ["url"], "1d",
        ), ["url"]),
    }
    # small, latency-bound jobs: run them side by side, and the serial
    # replays in pandas meanwhile
    with ThreadPoolExecutor(len(oracle_dfs)) as pool:
        futures = {k: pool.submit(df.toPandas) for k, df in oracle_dfs.items()}
        # the set-up build is a cold backfill: check it like an iteration
        base_pages = pages[pages["warc_ts"].dt.strftime("%Y-%m-%d").isin(days[:-1])]
        tier_base = R.hourly_tier(base_pages)
        for key, want in (
            ("rolled_rows", len(tier_base)),
            ("changepoints", R.count(R.textlen_changepoints(tier_base))),
            ("freq_changepoints", R.count(R.freq_changepoints(tier_base))),
        ):
            checks.op(r0[key] == want, f"backfill {key} {r0[key]} != replay {want}")
        pages_all = pd.concat([pages, late], ignore_index=True)
        tier_pre = R.hourly_tier(pages)
        tier_post = R.hourly_tier(pages_all)
        late_urls = set(late["url"])
        exp = {
            "changepoints": R.count(R.textlen_changepoints(tier_pre)),
            "freq_changepoints": R.count(R.freq_changepoints(tier_pre)),
            "refresh_changepoints": R.count(R.textlen_changepoints(tier_post, late_urls)),
        }
        info["expected"] = dict(exp)
        # rows a purge of each url must delete, per row-keyed family: one per
        # (url, hour) in the hourly families, one Gorilla blob per (url, day),
        # one per crawl in the per-observation families
        n_hours = tier_post.groupby("url").size()
        n_days = pages_all.assign(
            d=pages_all["warc_ts"].dt.strftime("%Y-%m-%d")).groupby("url")["d"].nunique()
        n_crawls = pages_all.groupby("url").size()
        purge_rows = {
            u: {"tier1h/": int(n_hours[u]), "gorilla1h/": int(n_days[u]),
                "qsketch1h/": int(n_hours[u]), "stats1h/": int(n_hours[u]),
                "staterun/": int(n_crawls[u]), "sig/": int(n_crawls[u])}
            for u in n_crawls.index
        }
        urls = sorted(purge_rows)
        # a seeded sample of 8 urls, half of them with a planted crawl drop
        rng = I.seeded(args.seed, "sample")
        rest = sorted(set(urls) - set(drop_urls))
        sample = sorted([*rng.choice(drop_urls, 4, replace=False),
                         *rng.choice(rest, 4, replace=False)])
        want_sample = sorted(
            (u, pd.Timestamp(d).to_pydatetime(), pd.Timestamp(c).to_pydatetime())
            for u, dets in R.freq_changepoints(tier_post, set(sample)).items() for d, c in dets
        )
        oracles = {k: f.result() for k, f in futures.items()}
    oracles["purge_rows"] = purge_rows
    tier_full = oracles["tier"]
    check_s = time.perf_counter() - t_check

    store_dir = os.path.join(work, "store")
    iters: list[dict] = []
    queries: list[tuple[str, float]] = []
    churn_seen: set = set()
    traced = bool(args.trace)
    t_measure = time.perf_counter()
    i = 0
    while not done(args, i, t_measure):
        tr.start_iteration(f"it{i}")
        shutil.rmtree(store_dir, ignore_errors=True)
        shutil.copytree(base_dir, store_dir)
        data_files_before = count_files(os.path.join(store_dir, "data"))
        it = {}
        factory = default_detector_factory
        if traced:
            factory = TimedDetector
            TimedDetector.acc = kernel_accumulator(spark.sparkContext)
        with tr.span("write"):
            t0 = time.perf_counter()
            r1 = run_pipeline(spark, day_df, store_dir, detector_factory=factory)
            r2 = refresh_pipeline(spark, late_df, store_dir)
            it["job_s"] = time.perf_counter() - t0
        if traced:
            it["detect"] = kernel_stats(spark, TimedDetector.acc.value, r1)
        it["bookkeeping_s"] = tr.bookkeeping_s
        it["rows"] = info["rows_per_day"][new_day] + info["late_rows"]
        it["store_mb"] = dir_bytes(store_dir) / 1e6
        it["files_written"] = count_files(os.path.join(store_dir, "data")) - data_files_before
        store = SnapshotStore(store_dir)
        it["manifest_kb"] = os.path.getsize(
            os.path.join(store_dir, "snapshots", store.head() + ".json")) / 1024
        it["pipeline"] = r1
        it["refresh"] = r2
        checks.op(r1["changepoints"] == exp["changepoints"],
                  f"changepoints {r1['changepoints']} != replay {exp['changepoints']}")
        checks.op(r1["freq_changepoints"] == exp["freq_changepoints"],
                  f"freq_changepoints {r1['freq_changepoints']} != replay {exp['freq_changepoints']}")
        churn_seen.add(r1["churn_changepoints"])
        checks.op(len(churn_seen) == 1 and r1["churn_changepoints"] > 0,
                  f"churn_changepoints varies or is 0: {sorted(churn_seen)}")
        checks.op(r2["changepoints_invalidated_urls"] == exp["refresh_changepoints"],
                  f"refresh changepoints {r2['changepoints_invalidated_urls']} != replay "
                  f"{exp['refresh_changepoints']}")
        # the sampled urls' crawl-frequency change points, recomputed from
        # the committed tier with the library operators, against the serial
        # replay (the text-length scan finds none on this shape)
        tier1h = store.read(spark, prefix="tier1h/")
        freq_df = O.window_segmentor_changepoints(
            O.gapfill(
                tier1h.where(F.col("url").isin(sample)).select("url", "bucket_start", "n_points"),
                ["url"], "bucket_start", "n_points", step_seconds=3600, method="null",
            ).select("url", "bucket_start",
                     F.coalesce(F.col("n_points"), F.lit(0)).cast("double").alias("v")),
            R.default_detector_factory, key_cols=["url"], ts_col="bucket_start",
            value_cols=["v"], standardize=True,
        )
        with ThreadPoolExecutor(2) as pool:
            got_tier = pool.submit(tier1h.select(TIER_COLS).toPandas)
            got_cp = pool.submit(freq_df.collect)
            got_tier, got_cp = got_tier.result(), got_cp.result()
        checks.op(frames_equal(got_tier, tier_full, ["url", "bucket_start"]),
                  "tier1h after the cycle != from-scratch build over base+day+late")
        got_sample = sorted((r["url"], r["detection_ts"], r["changepoint_ts"]) for r in got_cp)
        checks.op(got_sample == want_sample and len(want_sample) > 0,
                  "sampled urls' freq change points != serial replay")

        # ---- query phase on the store the cycle just wrote
        qrng = I.seeded(args.seed, "queries", i)
        victim = urls[qrng.randint(len(urls))]
        live = [u for u in urls if u != victim]
        mix = [*qrng.permutation(PRE_PURGE), "purge", *qrng.permutation(POST_PURGE)]
        purged: set = set()
        with tr.span("queries"):
            for qtype in mix:
                u = live[qrng.randint(len(live))]
                day = days[qrng.randint(len(days))]
                with tr.span(f"query.{qtype}"):
                    t0 = time.perf_counter()
                    res = run_query(spark, store, qtype, u, day, victim)
                    ms = (time.perf_counter() - t0) * 1000
                queries.append((qtype, ms))
                if qtype == "purge":
                    purged.add(victim)
                ok = check_query(spark, store, qtype, res, u, day, victim, purged, oracles)
                checks.op(ok, f"query {qtype} url={u} day={day} wrong result")
        if traced:
            with tr.span("probes"):
                operator_probes(tr, day_df, late_df, store.read(spark, prefix="tier1h/"))
        iters.append(it)
        i += 1
    return {
        "setup_s": setup_s, "check_s": check_s, "iters": iters, "queries": queries,
        "info": info,
    }


def run_query(spark, store, qtype: str, u: str, day: str, victim: str):
    """One read of the mix (or the purge), materialized to pandas."""
    from pyspark.sql import functions as F

    from streamchange_spark import operators as O
    from streamchange_spark.pipeline import purge_url, read_lang_state_tier

    def url_read(prefix):
        return store.read(spark, prefix=prefix, ranges={"url": (u, u)}).where(F.col("url") == u)

    if qtype == "point":
        return url_read("tier1h/").select(TIER_COLS).toPandas()
    if qtype == "gorilla":
        return O.decompress_series(
            url_read("gorilla1h/"), ["url"], "bucket_start", "sum_v").toPandas()
    if qtype == "pctl_1d":
        return O.sketch_percentiles(
            O.sketch_rollup(url_read("qsketch1h/"), ["url"], "1d"), ["url"]).toPandas()
    if qtype == "trend_1d":
        return O.stats_eval(O.stats_rollup(url_read("stats1h/"), ["url"], "1d")).toPandas()
    if qtype == "state_range":
        return read_lang_state_tier(spark, store, day, day).toPandas()
    if qtype == "kmv_1d":
        return O.kmv_distinct(
            O.kmv_rollup(store.read(spark, prefix="kmv1h/"), [], "1d")).toPandas()
    if qtype == "purge":
        return purge_url(spark, store, victim)
    raise ValueError(qtype)


def check_query(spark, store, qtype, res, u, day, victim, purged, oracles) -> bool:
    """``res`` of ``run_query`` against the oracles built during set-up."""
    import pandas as pd
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    tier_full = oracles["tier"]
    state_oracle, trend_oracle = oracles["state"], oracles["trend"]

    if qtype == "point":
        return frames_equal(res, tier_full[tier_full["url"] == u], ["url", "bucket_start"])
    if qtype == "gorilla":
        want = tier_full[tier_full["url"] == u][["url", "bucket_start", "sum_v"]]
        return frames_equal(res[["url", "bucket_start", "sum_v"]], want,
                            ["url", "bucket_start"])
    if qtype == "pctl_1d":
        pctl = oracles["pctl"]
        return frames_equal(res, pctl[pctl["url"] == u], ["url", "bucket_start"])
    if qtype == "trend_1d":
        return frames_equal(res, trend_oracle[trend_oracle["url"] == u],
                            ["url", "bucket_start"], rtol=1e-6)
    if qtype == "state_range":
        want = state_oracle[
            (state_oracle["bucket_start"] == pd.Timestamp(day))
            & ~state_oracle["url"].isin(purged)
        ]
        return frames_equal(res, want, ["url", "bucket_start", "state"])
    if qtype == "kmv_1d":
        return frames_equal(res, oracles["kmv"], ["bucket_start"])
    if qtype == "purge":
        want = oracles["purge_rows"][victim]
        got = {fam: rep["deleted_rows"] for fam, rep in res["families"].items()}
        # every row-keyed family read back through the store: the victim
        # must be gone from all of them
        left = functools.reduce(DataFrame.unionByName, [
            store.read(spark, prefix=fam, ranges={"url": (victim, victim)})
            .where(F.col("url") == victim).select("url")
            for fam in want
        ]).count()
        return got == want and left == 0
    raise ValueError(qtype)


# --------------------------------------------------------------------------
# stream_ingest


def write_metric_files(pages, out_dir: str, days: list[str]) -> None:
    """(url, warc_ts, text_len) day-files: the numeric input of the sketch
    and stats ingests (the batch pipeline derives the same columns with
    ``extract_metrics``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    day_col = pages["warc_ts"].dt.strftime("%Y-%m-%d")
    for d in days:
        part = pages[day_col == d]
        pq.write_table(
            pa.table({
                "url": part["url"].to_numpy(),
                "warc_ts": pa.array(part["warc_ts"], pa.timestamp("us", tz="UTC")),
                "text_len": part["text"].str.len().astype(float).to_numpy(),
            }),
            os.path.join(out_dir, f"day={d}.parquet"),
        )


def stream_ingest(spark, tr, args, work, checks: Checks, made) -> dict:
    from pyspark.sql import functions as F

    import inputs as I
    from streamchange_spark import operators as O
    from streamchange_spark import streaming as S
    from streamchange_spark.operators.qsketch import sketch_query
    from streamchange_spark.pipeline import SIG_HASHES, extract_metrics
    from spans import BatchListener

    shape = SHAPE
    t0 = time.perf_counter()
    days = I.day_list(shape)
    pages, info, _ = made
    src = os.path.join(work, "in")
    pages_dir = f"{src}/pages"
    I.write_day_files(pages, pages_dir, days)
    write_metric_files(pages, f"{src}/metrics", days)
    metrics_ddl = "url string, warc_ts timestamp, text_len double"
    listener = BatchListener() if args.trace else None
    if listener:
        spark.streams.addListener(listener)
    seen_runs: set = set()

    def ingest(out: str, src: str):
        """The five streaming twins over every day-file under ``src``, one
        file per micro-batch, each in its own span."""
        pages_in, metrics_in = f"{src}/pages", f"{src}/metrics"
        calls = {
            "kmv": lambda: S.run_streaming_kmv_ingest(
                spark, metrics_in, f"{out}/kmv", f"{out}/ck/kmv", metrics_ddl,
                [], "warc_ts", "url", max_files_per_trigger=1),
            "sketch": lambda: S.run_streaming_sketch_ingest(
                spark, metrics_in, f"{out}/sketch", f"{out}/ck/sketch", metrics_ddl,
                ["url"], "warc_ts", "text_len", max_files_per_trigger=1),
            "stats": lambda: S.run_streaming_stats_ingest(
                spark, metrics_in, f"{out}/stats", f"{out}/ck/stats", metrics_ddl,
                ["url"], "warc_ts", "text_len", max_files_per_trigger=1),
            "state": lambda: S.run_streaming_state_ingest(
                spark, pages_in, f"{out}/state", f"{out}/ck/state", I.SCHEMA_DDL,
                ["url"], "warc_ts", "lang", max_files_per_trigger=1),
            "signature": lambda: S.run_streaming_signature_ingest(
                spark, pages_in, f"{out}/signature", f"{out}/ck/signature",
                I.SCHEMA_DDL, num_hashes=SIG_HASHES, max_files_per_trigger=1),
        }
        for fam, call in calls.items():
            with tr.span(f"streaming.ingest.{fam}") as rec:
                call()
                if tr.enabled:
                    t_take = time.perf_counter()
                    rec["batches"] = listener.take(seen_runs)
                    tr.bookkeeping_s += time.perf_counter() - t_take

    def readers(out: str):
        return {
            "kmv": lambda: S.kmv_tier_from_ingest(spark, f"{out}/kmv", [], "1h"),
            "sketch": lambda: S.sketch_tier_from_ingest(spark, f"{out}/sketch", ["url"], "1h"),
            "stats": lambda: O.stats_eval(
                S.stats_tier_from_ingest(spark, f"{out}/stats", ["url"], "1d")),
            "state": lambda: S.state_tier_from_ingest(spark, f"{out}/state", ["url"], "1d"),
            "signature": lambda: S.change_scores_from_ingest(
                spark, f"{out}/signature", num_hashes=SIG_HASHES),
        }

    # set-up, after the inputs: the batch twins of the five families, which
    # are the stream == batch oracles and also warm the operators the
    # micro-batches run; and the five streaming ingests over day 1 of 20
    # urls, which warm the streaming engine itself
    t1 = time.perf_counter()
    all_pages = spark.read.schema(I.SCHEMA_DDL).parquet(pages_dir)
    all_metrics = extract_metrics(all_pages)
    # signatures are the costly twin: it and the scoped reads cover a
    # seeded quarter of the urls
    all_urls = sorted(pages["url"].unique())
    urls = sorted(I.seeded(args.seed, "urls").choice(
        all_urls, len(all_urls) // 4, replace=False))
    batch = {
        "kmv": O.kmv_tier(all_metrics, [], "warc_ts", "url", tier="1h"),
        "stats": O.stats_eval(O.stats_rollup(
            O.stats_tier(all_metrics, ["url"], "warc_ts", "text_len", tier="1h"),
            ["url"], "1d")),
        "state": O.state_tier(all_pages, ["url"], "warc_ts", "lang", "1d"),
        "signature": O.change_scores_from_signatures(
            O.snapshot_signatures(all_pages.where(F.col("url").isin(urls)), "url",
                                  "warc_ts", "text", num_hashes=SIG_HASHES,
                                  hash_fn="xxhash"),
            "url", "warc_ts", num_hashes=SIG_HASHES,
        ),
    }
    warm = os.path.join(work, "warm")
    few = pages[pages["url"].isin(all_urls[:20])]
    I.write_day_files(few, f"{warm}/in/pages", days[:1])
    write_metric_files(few, f"{warm}/in/metrics", days[:1])
    # the batch twins run beside the warm-up ingests, which are latency-
    # bound and leave most cores idle
    with ThreadPoolExecutor(len(batch)) as pool:
        futures = {k: pool.submit(df.toPandas) for k, df in batch.items()}
        with tr.span("warmup"):
            ingest(f"{warm}/out", f"{warm}/in")
        oracle = {k: f.result() for k, f in futures.items()}
    shutil.rmtree(warm)
    # the quantile sketch is approximate: its oracle is each bucket's exact
    # count and value range
    oracle["sketch"] = pages.assign(
        bucket_start=pages["warc_ts"].dt.floor("h").dt.tz_localize(None),
        text_len=pages["text"].str.len().astype(float),
    ).groupby(["url", "bucket_start"])["text_len"].agg(
        n_points="size", lo="min", hi="max").reset_index()
    setup_s = time.perf_counter() - T_START
    check_s = T_START + setup_s - t1
    info["setup_phases_s"] = {
        "session_and_pages": t0 - T_START, "input_files": t1 - t0,
        "oracles_and_warmup": check_s}

    hours = sorted(oracle["kmv"]["bucket_start"].unique())

    def check(fam, got, scope) -> bool:
        want = oracle[fam]
        if scope is not None:
            col, val = scope
            want = want[want[col] == val]
        if fam == "kmv":
            return frames_equal(got, want, ["bucket_start"])
        if fam == "sketch":
            m = got.merge(want, on=["url", "bucket_start"], how="outer")
            if len(m) != len(got) or len(m) != len(want) or (m["n_points_x"] != m["n_points_y"]).any():
                return False
            for blob, lo, hi in zip(m["qsketch"], m["lo"], m["hi"]):
                if not lo <= sketch_query(bytes(blob), [0.5])[0] <= hi:
                    return False
            return True
        if fam == "stats":
            return frames_equal(got, want, ["url", "bucket_start"], rtol=1e-6)
        if fam == "state":
            # the ingest stores run-length-encoded runs, so n_spans counts
            # the compacted spans; held time is exact either way
            cols = ["url", "bucket_start", "state", "held_us"]
            return frames_equal(got[cols], want[cols], cols[:3])
        return frames_equal(got[got["url"].isin(urls)], want, ["url", "warc_ts"])

    iters: list[dict] = []
    queries: list[tuple[str, float]] = []
    results: list[tuple] = []  # (family, scope, frame) of the iteration's reads

    def timed_read(fam, read, scope) -> float:
        with tr.span(f"streaming.read.{fam}"):
            q0 = time.perf_counter()
            df = read()
            if scope is not None:
                df = df.where(F.col(scope[0]) == F.lit(scope[1]))
            results.append((fam, scope, df.toPandas()))
            ms = (time.perf_counter() - q0) * 1000
        queries.append((f"{fam}_{'full' if scope is None else 'scoped'}", ms))
        return ms

    traced = bool(args.trace)
    t_measure = time.perf_counter()
    out = os.path.join(work, "ingest")
    i = 0
    while not done(args, i, t_measure):
        tr.start_iteration(f"it{i}")
        shutil.rmtree(out, ignore_errors=True)
        rng = I.seeded(args.seed, "scoped", i)
        it = {"reads": {}}
        results.clear()
        with tr.span("iteration"):
            t0 = time.perf_counter()
            ingest(out, src)
            for fam, read in readers(out).items():
                it["reads"][fam] = timed_read(fam, read, None) / 1000
            it["job_s"] = time.perf_counter() - t0
        # then url- or hour-scoped reads of the ingested partials, in a
        # seeded order
        scoped = [
            (fam, ("bucket_start", hours[rng.randint(len(hours))]) if fam == "kmv"
             else ("url", urls[rng.randint(len(urls))]))
            for fam in FAMILIES for _ in range(SCOPED_READS)
        ]
        with tr.span("queries"):
            for k in rng.permutation(len(scoped)):
                fam, scope = scoped[k]
                timed_read(fam, readers(out)[fam], scope)
        # the checks run after the clock stops
        for fam in FAMILIES:
            checks.op(os.path.isdir(f"{out}/{fam}"), f"{fam} ingest wrote no partials")
        for fam, scope, got in results:
            checks.op(check(fam, got, scope), f"stream != batch for {fam} scope={scope}")
        it["bookkeeping_s"] = tr.bookkeeping_s
        it["rows"] = info["rows"]
        it["store_mb"] = dir_bytes(out) / 1e6
        if traced:
            it["batches"] = {
                fam: tr.select(f"streaming.ingest.{fam}", tr.iteration)[-1]["batches"]
                for fam in FAMILIES
            }
            with tr.span("probes"):
                newest = spark.read.schema(I.SCHEMA_DDL).parquet(
                    os.path.join(pages_dir, f"day={days[-1]}.parquet"))
                prev = spark.read.schema(I.SCHEMA_DDL).parquet(
                    os.path.join(pages_dir, f"day={days[-2]}.parquet"))
                operator_probes(tr, newest, prev, O.rollup_raw(
                    extract_metrics(all_pages), ["url"], "warc_ts", "text_len", "1h"))
        iters.append(it)
        i += 1
    if listener:
        spark.streams.removeListener(listener)
    return {"setup_s": setup_s, "check_s": check_s, "iters": iters,
            "queries": queries, "info": info}


# --------------------------------------------------------------------------
# metrics


def pct(values, q):
    """The q-quantile by linear interpolation (numpy's default)."""
    import numpy as np

    return float(np.percentile(values, q * 100))


def end_to_end(res: dict) -> tuple[dict, dict]:
    """The end-to-end metrics of a run, and their sample counts."""
    iters = res["iters"]
    job_s = statistics.median(it["job_s"] for it in iters)
    rows = statistics.median(it["rows"] for it in iters)
    qms = [ms for _, ms in res["queries"]]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "job_s": {"value": job_s, "unit": "s"},
        "rows_per_s": {"value": rows / job_s, "unit": "1/s"},
        "query_ms.p50": {"value": pct(qms, 0.5), "unit": "ms"},
        "query_ms.p90": {"value": pct(qms, 0.9), "unit": "ms"},
        "store_mb": {
            "value": statistics.median(it["store_mb"] for it in iters), "unit": "MB"},
    }, {"job_s": len(iters), "query_ms": len(qms)}


PIPELINE_KEYS = {
    "tiers_s": ("pipeline", "tiers_sec"), "detect_s": ("pipeline", "detect_sec"),
    "freq_s": ("pipeline", "freq_sec"), "churn_s": ("pipeline", "churn_sec"),
    "sketch_s": ("pipeline", "sketch_sec"), "refresh_s": ("refresh", "refresh_sec"),
    "refresh_detect_s": ("refresh", "detect_sec"),
}
OPERATORS = ("rollup", "gorilla", "qsketch", "kmv", "statsagg", "stateagg",
             "changescore", "gapfill", "merge")
QUERY_TYPES = [*dict.fromkeys(POST_PURGE), "purge"]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    names = [(f"pipeline.{k}", "s") for k in PIPELINE_KEYS]
    names += [(f"operators.{o}_s", "s") for o in OPERATORS]
    names += [("snapshots.commit_s", "s"), ("snapshots.commits", "count"),
              ("snapshots.files_written", "count"), ("snapshots.manifest_kb", "KiB"),
              ("snapshots.read_plan_ms", "ms"), ("snapshots.files_opened", "count"),
              ("snapshots.prune_ratio", "ratio"), ("snapshots.delete_ms", "ms")]
    for d in DETECTORS:
        names += [(f"detect.scan_s.{d}", "s"), (f"detect.python_s.{d}", "s"),
                  (f"detect.kernel_tasks.{d}", "count"),
                  (f"detect.shuffle_partitions.{d}", "count"),
                  (f"detect.series.{d}", "count"), (f"detect.points.{d}", "count"),
                  (f"detect.changepoints.{d}", "count")]
    names += [("spark.jobs", "count"), ("spark.stages", "count"),
              ("spark.tasks", "count"), ("spark.jobs.backfill", "count")]
    for f in FAMILIES:
        names += [(f"streaming.batches.{f}", "count"), (f"streaming.batch_ms.{f}", "ms"),
                  (f"streaming.ingest_s.{f}", "s"), (f"streaming.tier_read_s.{f}", "s"),
                  (f"streaming.jobs.{f}", "count")]
    names += [(f"query_ms.{t}", "ms") for t in QUERY_TYPES]
    names += [("trace.job_s", "s"), ("trace.bookkeeping_s", "s")]
    return names


def per_layer(res: dict, tr) -> dict:
    """Per-layer metrics of the traced iteration; a layer the workload does
    not run reports 0."""
    it = res["iters"][0]
    it_id = "it0"
    vals = {name: 0.0 for name, _ in per_layer_names()}
    for k, (src, key) in PIPELINE_KEYS.items():
        if src in it:
            vals[f"pipeline.{k}"] = it[src][key]
    for o in OPERATORS:
        vals[f"operators.{o}_s"] = tr.total(f"operators.{o}", iteration=it_id)
    commits = tr.select("snapshots.commit", it_id)
    write = tr.select("write", it_id)
    if write:
        vals["snapshots.commit_s"] = sum(r["dur_s"] for r in commits)
        vals["snapshots.commits"] = len(commits)
        vals["snapshots.files_written"] = it["files_written"]
        vals["snapshots.manifest_kb"] = it["manifest_kb"]
        q = tr.select("queries", it_id)[0]
        plans = [r for r in tr.select("snapshots.read_plan", it_id)
                 if q["start"] <= r["start"] <= q["end"]]
        if plans:
            vals["snapshots.read_plan_ms"] = 1000 * statistics.mean(r["dur_s"] for r in plans)
            opened = sum(r["files_opened"] for r in plans)
            cand = sum(r["files_candidate"] for r in plans)
            vals["snapshots.files_opened"] = opened
            vals["snapshots.prune_ratio"] = 1 - opened / cand if cand else 0.0
        purges = tr.select("query.purge", it_id)
        if purges:
            # per purge_url call: one delete_where per row-keyed family
            vals["snapshots.delete_ms"] = 1000 * tr.total(
                "snapshots.delete", iteration=it_id) / len(purges)
        for d, m in it["detect"].items():
            for k in ("scan_s", "python_s", "kernel_tasks", "shuffle_partitions",
                      "series", "points", "changepoints"):
                vals[f"detect.{k}.{d}"] = m[k]
        top = write[0]
        backfill = tr.select("backfill")
        vals["spark.jobs.backfill"] = backfill[0]["jobs"] if backfill else 0
    else:
        top = tr.select("iteration", it_id)[0]
        for f in FAMILIES:
            span = tr.select(f"streaming.ingest.{f}", it_id)[0]
            batches = span["batches"]
            vals[f"streaming.batches.{f}"] = len(batches)
            vals[f"streaming.batch_ms.{f}"] = (
                statistics.median(b["ms"] for b in batches) if batches else 0.0)
            vals[f"streaming.ingest_s.{f}"] = span["dur_s"]
            vals[f"streaming.tier_read_s.{f}"] = it["reads"][f]
            vals[f"streaming.jobs.{f}"] = span["jobs"]
    vals["spark.jobs"] = top["jobs"]
    vals["spark.stages"] = top["stages"]
    vals["spark.tasks"] = top["tasks"]
    for t in QUERY_TYPES:
        spans = tr.select(f"query.{t}", it_id)
        if spans:
            vals[f"query_ms.{t}"] = 1000 * statistics.median(r["dur_s"] for r in spans)
    vals["trace.job_s"] = it["job_s"]
    vals["trace.bookkeeping_s"] = it["bookkeeping_s"]
    units = dict(per_layer_names())
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


# --------------------------------------------------------------------------
# entry points


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "streamchange_spark")):
        print(f"perfbench: no streamchange_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = pin_environment(work)
    checks = Checks()
    spark = None
    try:
        import inputs as I

        with ThreadPoolExecutor(1) as pool:
            # the page table is pandas work: build it while the JVM starts
            made = pool.submit(I.make_pages, SHAPE, args.seed)
            spark = start_spark(work)
            made = made.result()
        from spans import Tracer, instrument_store
        from streamchange_spark.sources.snapshots import SnapshotStore

        tr = Tracer(spark, bool(args.trace))
        if args.trace:
            instrument_store(tr, SnapshotStore)
        fn = daily_cycle if args.workload == "daily_cycle" else stream_ingest
        try:
            res = fn(spark, tr, args, work, checks, made)
        except Exception as exc:  # an operation raised: count it, report, exit 1
            checks.op(False, f"{type(exc).__name__}: {exc}")
            print(f"perfbench: {args.workload} failed: {exc!r}", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": checks.attempted,
                              "failed": checks.failed, "metrics": {}}))
            return 1
        e2e, samples = end_to_end(res)
        metrics = e2e
        if args.trace:
            tr.finish()
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tr.write(path)
            layer = per_layer(res, tr)
            print(f"# spans: {len(tr.spans)} written to {os.path.relpath(path, ROOT)}")
            for k, v in layer.items():
                print(f"# {k} = {v['value']:.6g} {v['unit']}")
            metrics = layer
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for msg in checks.messages:
        print(f"# CHECK FAILED: {msg}", file=sys.stderr)
    print(f"# host: {json.dumps(host)}")
    print(f"# input: {json.dumps(res['info'], default=str)}")
    print(f"# checks: {checks.attempted - checks.failed}/{checks.attempted} ok, "
          f"oracle set-up {res['check_s']:.1f}s")
    by_type: dict[str, list[float]] = {}
    for qtype, ms in res["queries"]:
        by_type.setdefault(qtype, []).append(ms)
    print("# query_ms by type: " + " ".join(
        f"{t}={statistics.median(v):.0f}(n={len(v)})" for t, v in by_type.items()))
    row = " ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in e2e.items())
    print(f"# row: workload={args.workload} seed={args.seed} {row} "
          f"error_rate={checks.failed}/{checks.attempted} "
          f"samples(job_s)={samples['job_s']} samples(query_ms)={samples['query_ms']}")
    correct = checks.failed == 0
    print(json.dumps({"correct": correct, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; one summary row each. With
    ``--trace 1`` each workload also runs traced, and the row is followed
    by the tracing overhead: traced minus untraced ``job_s``, same seed."""
    code = 0
    for w in WORKLOADS:
        out = {}
        for trace in range(args.trace + 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                capture_output=True, text=True,
            )
            lines = proc.stdout.splitlines()
            out[trace] = json.loads(lines[-1])["metrics"] if lines else {}
            if trace == 0:
                rows = [ln for ln in lines if ln.startswith("# row:")]
                print(rows[-1][7:] if rows else f"workload={w} FAILED (exit {proc.returncode})")
            code = code or proc.returncode
        if args.trace and "job_s" in out[0] and "trace.job_s" in out[1]:
            traced, untraced = out[1]["trace.job_s"]["value"], out[0]["job_s"]["value"]
            print(f"  tracing overhead: {traced - untraced:+.3f} s "
                  f"({traced:.3f} traced - {untraced:.3f} untraced job_s; tracer "
                  f"bookkeeping {out[1]['trace.bookkeeping_s']['value']:.3f} s)")
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
