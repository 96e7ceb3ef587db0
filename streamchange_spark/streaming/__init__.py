"""Structured Streaming variants: stateful detectors, watermarked
continuous aggregates, effectively-once tier ingests, and incremental
corpus ingestion (see streaming.detectors, streaming.rollup,
streaming.partials, streaming.corpus)."""

from .corpus import (
    corpus_verdicts_from_ingest,
    incremental_verdicts_from_ingest,
    run_streaming_corpus_ingest,
    run_streaming_corpus_ingest_incremental,
    run_streaming_line_dedup,
    streaming_exact_dedup,
)
from .detectors import (
    streaming_capa,
    streaming_pelt,
    streaming_sequential_detector,
    streaming_window_segmentor,
)
from .partials import (
    change_scores_from_ingest,
    hh_tier_from_ingest,
    kmv_tier_from_ingest,
    run_streaming_hh_ingest,
    run_streaming_kmv_ingest,
    run_streaming_signature_ingest,
    run_streaming_sketch_ingest,
    run_streaming_state_ingest,
    run_streaming_stats_ingest,
    sketch_tier_from_ingest,
    state_tier_from_ingest,
    stats_tier_from_ingest,
    uptime_tier_from_ingest,
)
from .rollup import streaming_rollup_raw
from .upsert import run_streaming_upsert
from .sessions import streaming_sessions

__all__ = [
    "change_scores_from_ingest",
    "corpus_verdicts_from_ingest",
    "hh_tier_from_ingest",
    "incremental_verdicts_from_ingest",
    "kmv_tier_from_ingest",
    "run_streaming_corpus_ingest",
    "run_streaming_corpus_ingest_incremental",
    "run_streaming_hh_ingest",
    "run_streaming_kmv_ingest",
    "run_streaming_state_ingest",
    "run_streaming_stats_ingest",
    "state_tier_from_ingest",
    "stats_tier_from_ingest",
    "uptime_tier_from_ingest",
    "run_streaming_line_dedup",
    "run_streaming_signature_ingest",
    "run_streaming_sketch_ingest",
    "run_streaming_upsert",
    "sketch_tier_from_ingest",
    "streaming_capa",
    "streaming_exact_dedup",
    "streaming_pelt",
    "streaming_rollup_raw",
    "streaming_sequential_detector",
    "streaming_sessions",
    "streaming_window_segmentor",
]
