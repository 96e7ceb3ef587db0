"""Streaming tier ingests: one effectively-once partials ingest, six twins.

Every twin here is the streaming form of a batch tier operator whose merge
is associative. :func:`_ingest` runs an availableNow ``foreachBatch``
stream over every unprocessed file under an input directory (the stream
checkpoint skips finished files, so re-running is the resume path). Each
micro-batch writes its PARTIAL tier rows with :func:`write_partial`, under
its own ``_batch_id`` partition with dynamic overwrite: a batch replayed
after a crash rewrites only its own partition, upgrading foreachBatch's
at-least-once to effectively-once. The queryable tier is the batch merge
over :func:`read_partials`. No watermark is needed: late rows land in a
later micro-batch's partial and merge into the same (key, bucket), so the
tier is always re-queryable with everything seen so far.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.changescore import (
    change_scores_from_signatures,
    snapshot_signatures,
)
from ..operators.heavy_hitters import hh_rollup, hh_tier
from ..operators.kmv import kmv_rollup, kmv_tier
from ..operators.qsketch import sketch_rollup, sketch_tier
from ..operators.stateagg import (
    encode_state_runs,
    heartbeat_tier_from_runs,
    state_tier_from_runs,
)
from ..operators.statsagg import stats_rollup, stats_tier


def _ingest(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    schema: str,
    write_batch: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None,
    timeout_sec: float,
) -> None:
    """Run ``write_batch(batch_df, batch_id)`` over every unprocessed parquet
    file under ``input_path`` (availableNow) and wait for the stream to
    finish. ``schema`` is the file schema DDL (streaming file sources
    require it explicitly). A stream still running after ``timeout_sec`` is
    stopped and raises ``TimeoutError``: the output is then incomplete, and
    re-running resumes from the checkpoint."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(input_path)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"ingest of {input_path} not done in {timeout_sec} s")


def write_partial(frame: DataFrame, path: str, batch_id: int) -> None:
    """Write one micro-batch's rows under ``path`` as partition
    ``_batch_id=batch_id``, overwriting only that partition if it exists."""
    (
        frame.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def read_partials(
    spark: SparkSession, path: str, before_batch: int | None = None
) -> DataFrame:
    """Every row :func:`write_partial` wrote under ``path`` (only batches
    before ``before_batch`` when given), without the batch column."""
    parts = spark.read.parquet(path)
    if before_batch is not None:
        parts = parts.where(F.col("_batch_id") < before_batch)
    return parts.drop("_batch_id")


def run_streaming_sketch_ingest(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    eps: float = 0.005,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Sketch every unprocessed file under ``input_path`` into
    per-micro-batch partial (key, bucket, n_points, qsketch) rows at
    ``sketch_path`` — the streaming twin of ``sketch_tier``."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            sketch_tier(df, key_cols, ts_col, value_col, tier, eps),
            sketch_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def sketch_tier_from_ingest(
    spark: SparkSession,
    sketch_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    eps: float = 0.005,
) -> DataFrame:
    """The queryable percentile tier: one ``sketch_rollup`` over every
    partial, to ``tier`` (a coarser tier rolls up in the same merge).
    n_points is exact; rank error is bounded by the carried ``err`` header,
    which reflects the merge tree the stream actually produced (one prune
    per micro-batch plus one at the merge) — read the header, not a
    formula."""
    return sketch_rollup(read_partials(spark, sketch_path), key_cols, tier, eps)


def run_streaming_kmv_ingest(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    distinct_col: str,
    tier: str = "1h",
    k: int = 256,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Sketch every unprocessed file under ``input_path`` into
    per-micro-batch partial (key, bucket, n_points, kmv) bottom-k rows at
    ``sketch_path`` — the streaming twin of ``kmv_tier``."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            kmv_tier(df, key_cols, ts_col, distinct_col, tier, k),
            sketch_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def kmv_tier_from_ingest(
    spark: SparkSession,
    sketch_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    k: int = 256,
) -> DataFrame:
    """The queryable distinct-count tier: one ``kmv_rollup`` over every
    partial, to ``tier``. Bottom-k is closed under union, so the result is
    BIT-IDENTICAL to ``kmv_tier`` over everything ingested, however the
    stream chopped the input into micro-batches."""
    return kmv_rollup(read_partials(spark, sketch_path), key_cols, tier, k)


def run_streaming_hh_ingest(
    spark: SparkSession,
    input_path: str,
    summary_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    item_col: str,
    tier: str = "1h",
    m: int = 64,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Summarize every unprocessed file under ``input_path`` into
    per-micro-batch partial (key, bucket, n_points, items, err) heavy-hitter
    rows at ``summary_path`` — the streaming twin of ``hh_tier``."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            hh_tier(df, key_cols, ts_col, item_col, tier, m),
            summary_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def hh_tier_from_ingest(
    spark: SparkSession,
    summary_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    m: int = 64,
) -> DataFrame:
    """The queryable frequent-item tier: one ``hh_rollup`` over every
    partial, to ``tier``. Each micro-batch adds its own truncation error and
    the merge one more, so the tier can carry more error than one batch
    build, but ``est <= true <= est + err`` holds for the err it carries; a
    batch that never truncates contributes err 0."""
    return hh_rollup(read_partials(spark, summary_path), key_cols, tier, m)


def run_streaming_stats_ingest(
    spark: SparkSession,
    input_path: str,
    stats_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Reduce every unprocessed file under ``input_path`` into
    per-micro-batch partial regression moments ``(n, Σx, Σy, Σxx, Σxy,
    Σyy)`` per (key, bucket) at ``stats_path`` — the streaming twin of
    ``stats_tier``."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            stats_tier(df, key_cols, ts_col, value_col, tier),
            stats_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def stats_tier_from_ingest(
    spark: SparkSession,
    stats_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
) -> DataFrame:
    """The queryable moment tier: one ``stats_rollup`` over every partial,
    to ``tier``; evaluate with ``stats_eval``. The moments are closed under
    addition, so it equals ``stats_tier`` over everything ingested up to
    float summation order."""
    return stats_rollup(read_partials(spark, stats_path), key_cols, tier)


def run_streaming_state_ingest(
    spark: SparkSession,
    input_path: str,
    runs_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    encode_runs: bool = True,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Reduce every unprocessed file under ``input_path`` into
    per-micro-batch state-run rows ``(key, state, run_start_us, run_end_us,
    n_obs)`` at ``runs_path`` — the streaming twin of ``state_tier``. A
    state span cannot be closed inside one micro-batch (its closing
    observation may arrive batches later), so the partial is a run-length
    encoding of each key's consecutive equal-state observations: one row
    per state CHANGE per batch. ``encode_runs=False`` stores one run per
    observation instead; a late row landing strictly inside an
    already-compacted run shifts the attribution boundary to the run's
    endpoints (total held time per key is still conserved), so feeds that
    need exact late re-attribution ingest uncompacted."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            encode_state_runs(df, key_cols, ts_col, state_col, collapse=encode_runs),
            runs_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def state_tier_from_ingest(
    spark: SparkSession,
    runs_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """The queryable time-in-state tier: the batch span algebra over each
    stored run's endpoint observations (interior observations of a run are
    redundant for durations). ``held_us`` equals ``state_tier`` over
    everything ingested bit-for-bit whenever each key's observations arrive
    in event-time order across batches; ``n_spans`` counts spans of the
    STORED observation set (see
    :func:`..operators.stateagg.state_tier_from_runs`)."""
    return state_tier_from_runs(
        read_partials(spark, runs_path), key_cols, tier,
        max_span_buckets=max_span_buckets,
    )


def uptime_tier_from_ingest(
    spark: SparkSession,
    runs_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    tolerance_s: float = 600.0,
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Liveness/uptime off the SAME ingested run rows, no second stream:
    every stored run endpoint is a heartbeat. Exact versus the batch
    heartbeat build when ingesting with ``encode_runs=False``; with
    compaction the dropped run interiors undercount coverage across
    longer-than-tolerance endpoint gaps (see
    ``heartbeat_tier_from_runs``, which this wraps)."""
    return heartbeat_tier_from_runs(
        read_partials(spark, runs_path), key_cols, tier,
        tolerance_s=tolerance_s, max_span_buckets=max_span_buckets,
    )


def run_streaming_signature_ingest(
    spark: SparkSession,
    input_path: str,
    sig_path: str,
    checkpoint_path: str,
    schema: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    num_hashes: int = 16,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
    hash_fn: str = "xxhash",
) -> None:
    """Signature every unprocessed crawl file under ``input_path`` into
    per-micro-batch snapshot-signature rows at ``sig_path`` — the streaming
    twin of ``snapshot_signatures``, paying the expensive text pass once
    per snapshot. ``hash_fn`` defaults to the batch pipeline's xxhash; md5
    remains available for cross-engine oracle replay."""
    _ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_partial(
            snapshot_signatures(
                df, url_col, ts_col, text_col, num_hashes, hash_fn=hash_fn
            ),
            sig_path, batch_id,
        ),
        max_files_per_trigger, timeout_sec,
    )


def change_scores_from_ingest(
    spark: SparkSession,
    sig_path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    num_hashes: int = 16,
) -> DataFrame:
    """Score the FULL ingested series with one url-partitioned window over
    every partial (lags cross micro-batch boundaries, text is never
    re-read). Signatures are row-local, so the result is bit-equal to
    batch ``snapshot_change_scores`` over everything ingested."""
    return change_scores_from_signatures(
        read_partials(spark, sig_path), url_col, ts_col, num_hashes
    )
