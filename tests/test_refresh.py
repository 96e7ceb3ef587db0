"""Late-data invalidation + incremental refresh (continuous-aggregate
semantics): merge_tier associativity, refresh_pipeline == full rebuild,
partition-level file reuse for untouched days."""

import pytest
from pyspark.sql import functions as F

from streamchange_spark.operators import merge_tier, rollup_raw
from streamchange_spark.pipeline import (
    TIER_FAMILIES,
    refresh_pipeline,
    run_pipeline,
)
from streamchange_spark.sources import SnapshotStore, generate_pages

TIER_COLS = [
    "url", "bucket_start", "n_points", "sum_v", "min_v", "max_v",
    "first_ts", "first_v", "last_ts", "last_v",
]


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, n_urls=10, mean_snapshots=24).cache()


def _split(pages, mod=5):
    """Deterministic ~1/mod late slice (no RNG — repeatable across runs)."""
    bucket = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(mod))
    return pages.where(bucket != 0), pages.where(bucket == 0)


def test_merge_tier_equals_direct(spark):
    """merge of per-slice 1h tiers == direct 1h tier over the union, exactly
    (integer-valued doubles: double sums are exact, so associativity is
    bit-true, not approximate)."""
    rows = [
        (f"k{i % 7}", i * 311 % 100_000, float((i * 37) % 1000))
        for i in range(5000)
    ]
    df = (
        spark.createDataFrame(rows, ["user_id", "sec", "value"])
        .select("user_id", F.timestamp_seconds("sec").alias("ts"), "value")
    )
    slices = [
        df.where(F.pmod(F.xxhash64("user_id", "ts"), F.lit(3)) == i)
        for i in range(3)
    ]
    merged = merge_tier(
        [rollup_raw(s, ["user_id"], "ts", "value", "1h") for s in slices],
        ["user_id"],
    )
    direct = rollup_raw(df, ["user_id"], "ts", "value", "1h")
    cols = ["user_id"] + TIER_COLS[1:]
    pm = merged.select(cols).orderBy("user_id", "bucket_start").toPandas()
    pd_ = direct.select(cols).orderBy("user_id", "bucket_start").toPandas()
    assert pm.equals(pd_)


def _family_views(spark):
    """Per registered tier family: (view of one store's committed family,
    equality of two views). A family missing here fails the test below."""
    import operator

    import numpy as np

    from streamchange_spark.operators import (
        decompress_series,
        state_tier_from_runs,
        stats_eval,
        stats_rollup,
    )

    def rows(df, *order):
        return [tuple(r) for r in df.orderBy(*order).collect()]

    def trend_close(a, b):
        floats = [c for c in a.columns if a[c].dtype.kind == "f"]
        return a.drop(columns=floats).equals(b.drop(columns=floats)) and all(
            np.allclose(a[c], b[c], rtol=1e-6, atol=1e-9, equal_nan=True)
            for c in floats
        )

    sig_cols = ["url", "warc_ts", "text_md5", "text_len", "mh_0"]
    return {
        # additive tier: bit-identical
        "tier1h": (
            lambda s: rows(
                s.read(spark, prefix="tier1h/").select(TIER_COLS),
                "url", "bucket_start",
            ),
            operator.eq,
        ),
        # re-compressed from the merged tier: same decoded series
        "gorilla1h": (
            lambda s: sorted(
                (r["url"], r["bucket_start"], round(r["sum_v"], 6))
                for r in decompress_series(
                    s.read(spark, prefix="gorilla1h/"),
                    ["url"], "bucket_start", "sum_v",
                ).collect()
            ),
            operator.eq,
        ),
        # percentile sketches merge with a carried error bound (not
        # bit-equal by design); the additive part must match exactly
        "qsketch1h": (
            lambda s: s.read(spark, prefix="qsketch1h/")
            .agg(F.sum("n_points"))
            .collect()[0][0],
            operator.eq,
        ),
        # bottom-k is closed under union: BIT-identical arrays
        "kmv1h": (
            lambda s: rows(s.read(spark, prefix="kmv1h/"), "bucket_start"),
            operator.eq,
        ),
        # regression moments: the evaluated 1d trend, within the
        # stream == batch tolerance (the stores sum in different orders)
        "stats1h": (
            lambda s: stats_eval(
                stats_rollup(s.read(spark, prefix="stats1h/"), ["url"], "1d")
            )
            .orderBy("url", "bucket_start")
            .toPandas(),
            trend_close,
        ),
        # obs-level runs make the union exact under arbitrary lateness: the
        # stitched daily tier is bit-equal
        "staterun": (
            lambda s: sorted(
                tuple(r)
                for r in state_tier_from_runs(
                    s.read(spark, prefix="staterun/"), ["url"], "1d"
                ).collect()
            ),
            operator.eq,
        ),
        # signatures are per-row: the committed union is the full table
        "sig": (
            lambda s: rows(s.read(spark, prefix="sig/").select(sig_cols), *sig_cols),
            operator.eq,
        ),
    }


def test_refresh_equals_full_rebuild(spark, tmp_path, pages):
    """Base build + late refresh leaves every registered tier family equal
    to a from-scratch build over base UNION late."""
    base, late = _split(pages)
    assert late.count() > 0 and base.count() > 0

    inc_dir = str(tmp_path / "incremental")
    run_pipeline(spark, base, inc_dir)
    r = refresh_pipeline(spark, late, inc_dir)
    assert r["refresh"] is True
    assert r["late_rows"] == late.count()
    assert r["merged_days"]  # the split hits already-committed days

    full_dir = str(tmp_path / "full")
    run_pipeline(spark, pages, full_dir)

    views = _family_views(spark)
    assert set(views) == {fam.name for fam in TIER_FAMILIES}
    inc, full = SnapshotStore(inc_dir), SnapshotStore(full_dir)
    for fam in TIER_FAMILIES:
        view, same = views[fam.name]
        assert same(view(inc), view(full)), fam.name


def test_refresh_touches_only_invalidated_partitions(spark, tmp_path, pages):
    """Untouched day partitions are carried by manifest file reuse: same
    file lists, same originating snapshot id in lineage."""
    days = sorted(
        str(r["day"])
        for r in pages.select(F.to_date("warc_ts").alias("day"))
        .distinct().collect()
    )
    assert len(days) >= 2
    hot_day = days[0]

    store_dir = str(tmp_path / "table")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    before = store.manifest()

    # Late batch confined to one day: re-crawls of that day's pages with
    # shifted intra-day timestamps (stays in the same day partition).
    late = (
        pages.where(F.to_date("warc_ts") == F.lit(hot_day))
        .limit(20)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 7 MINUTES"))
    )
    r = refresh_pipeline(spark, late, store_dir)
    assert r["invalidated_days"] == [hot_day]
    after = store.manifest()

    for part, files in before["files"].items():
        if part.endswith(f"/{hot_day}"):
            assert after["files"][part] != files  # rewritten
            assert after["metrics"][part]["snapshot_id"] == r["snapshot_id"]
        else:
            assert after["files"][part] == files  # file reuse, zero rewrite
            assert (
                after["metrics"][part]["snapshot_id"]
                == before["metrics"][part]["snapshot_id"]
            )
    assert after["properties"]["stage"] == "late-refresh"
    assert after["properties"]["late_rows"] == 20


def test_refresh_new_day_and_empty_store(spark, tmp_path, pages):
    """A late batch in a brand-new day adds partitions without merging;
    refresh into an empty store degenerates to the initial build."""
    store_dir = str(tmp_path / "table")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    n_parts_before = len(store.completed_partitions())

    future = pages.limit(15).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 400 DAYS")
    )
    r = refresh_pipeline(spark, future, store_dir)
    assert r["merged_days"] == []
    assert len(r["invalidated_days"]) >= 1
    assert len(store.completed_partitions()) == n_parts_before + 7 * len(
        r["invalidated_days"]
    )

    empty_dir = str(tmp_path / "empty")
    r0 = refresh_pipeline(spark, pages.limit(10), empty_dir)
    assert r0["refresh"] is False  # ran the initial build path


def _events_df(spark, n=5000):
    rows = [
        (f"k{i % 7}", i * 311 % 100_000, float((i * 37) % 1000))
        for i in range(n)
    ]
    return (
        spark.createDataFrame(rows, ["user_id", "sec", "value"])
        .select("user_id", F.timestamp_seconds("sec").alias("ts"), "value")
    )


def test_real_time_rollup_equals_direct_straddled_bucket(spark):
    """Real-time view (committed pre-watermark tier ∪ on-the-fly tail rollup)
    == direct rollup over everything, with a watermark chosen mid-bucket so
    the straddled bucket's partial states must combine exactly."""
    import datetime as dt

    from streamchange_spark.operators import real_time_rollup

    df = _events_df(spark)
    # 50_000s is NOT hour-aligned (50_000 % 3600 == 3200): bucket 46800
    # is split across the committed side and the raw tail.
    watermark = dt.datetime.fromtimestamp(50_000, dt.timezone.utc).replace(
        tzinfo=None
    )
    tier = rollup_raw(
        df.where(F.col("ts") < F.lit(watermark)), ["user_id"], "ts", "value", "1h"
    )
    rt = real_time_rollup(tier, df, ["user_id"], "ts", "value", watermark, "1h")
    direct = rollup_raw(df, ["user_id"], "ts", "value", "1h")

    # the straddled bucket really is exercised: both sides contribute rows
    # to bucket 46800 (13h) for at least one key
    straddle = F.col("bucket_start") == F.timestamp_seconds(F.lit(46800))
    assert tier.where(straddle).count() > 0
    tail_tier = rollup_raw(
        df.where(F.col("ts") >= F.lit(watermark)), ["user_id"], "ts", "value", "1h"
    )
    assert tail_tier.where(straddle).count() > 0

    cols = ["user_id"] + TIER_COLS[1:]
    pm = rt.select(cols).orderBy("user_id", "bucket_start").toPandas()
    pd_ = direct.select(cols).orderBy("user_id", "bucket_start").toPandas()
    assert pm.equals(pd_)


def test_real_time_tail_filter_reaches_parquet_scan(spark, tmp_path):
    """The ts >= watermark tail predicate must be PUSHED to the raw table's
    parquet scan — at 100 TB the real-time view reads the unmaterialized
    tail, never the archive."""
    import datetime as dt

    from streamchange_spark.operators import real_time_rollup

    raw_dir = str(tmp_path / "raw")
    _events_df(spark).write.parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    watermark = dt.datetime.fromtimestamp(50_000, dt.timezone.utc).replace(
        tzinfo=None
    )
    tier = rollup_raw(
        raw.where(F.col("ts") < F.lit(watermark)), ["user_id"], "ts", "value", "1h"
    )
    rt = real_time_rollup(tier, raw, ["user_id"], "ts", "value", watermark, "1h")
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def test_real_time_over_store_committed_tier(spark, tmp_path):
    """End to end with the snapshot store: the materialized side read back
    from a committed tier partition, the tail straight from raw — the view
    still equals the direct rollup."""
    import datetime as dt

    from streamchange_spark.operators import real_time_rollup

    df = _events_df(spark)
    watermark = dt.datetime.fromtimestamp(50_000, dt.timezone.utc).replace(
        tzinfo=None
    )
    committed = rollup_raw(
        df.where(F.col("ts") < F.lit(watermark)), ["user_id"], "ts", "value", "1h"
    )
    store = SnapshotStore(str(tmp_path / "table"))
    store.commit_partitions({"tier1h/d0": committed}, watermark=str(watermark))
    tier = store.read(spark, prefix="tier1h/").drop("_part")
    rt = real_time_rollup(tier, df, ["user_id"], "ts", "value", watermark, "1h")
    direct = rollup_raw(df, ["user_id"], "ts", "value", "1h")
    cols = ["user_id"] + TIER_COLS[1:]
    pm = rt.select(cols).orderBy("user_id", "bucket_start").toPandas()
    pd_ = direct.select(cols).orderBy("user_id", "bucket_start").toPandas()
    assert pm.equals(pd_)
