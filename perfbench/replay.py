"""Serial replays of the pipeline's detector stages, for output checks.

Each replay rebuilds a stage's per-url input series from the raw pages in
pandas and runs the library kernel (``kernels.WindowSegmentor`` via the
pipeline's default factory) one url at a time, with no Spark involved.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from streamchange_spark.operators.detect import zscore_per_key
from streamchange_spark.pipeline import default_detector_factory


def hourly_tier(pages: pd.DataFrame) -> pd.DataFrame:
    """(url, bucket_start, n_points, sum_v): the 1h tier's additive columns."""
    df = pd.DataFrame(
        {
            "url": pages["url"].to_numpy(),
            "bucket_start": pages["warc_ts"].dt.floor("h").dt.tz_localize(None),
            "text_len": pages["text"].str.len().astype(float).to_numpy(),
        }
    )
    return (
        df.groupby(["url", "bucket_start"], sort=True)
        .agg(n_points=("text_len", "size"), sum_v=("text_len", "sum"))
        .reset_index()
    )


def _detect(values: np.ndarray, times: np.ndarray) -> list[tuple]:
    det = default_detector_factory()
    det.fit(zscore_per_key(values), times=times)
    return list(det.detections_)


def textlen_changepoints(tier: pd.DataFrame, urls=None) -> dict[str, list]:
    """url -> detections of the hourly-mean text-length scan."""
    out = {}
    for url, g in tier.groupby("url", sort=True):
        if urls is not None and url not in urls:
            continue
        v = (g["sum_v"] / g["n_points"]).to_numpy(dtype=float)[:, None]
        out[url] = _detect(v, g["bucket_start"].to_numpy())
    return out


def freq_changepoints(tier: pd.DataFrame, urls=None) -> dict[str, list]:
    """url -> detections of the crawl-frequency scan (hourly grid from the
    url's first to last bucket, absent hours counted as 0 crawls)."""
    out = {}
    for url, g in tier.groupby("url", sort=True):
        if urls is not None and url not in urls:
            continue
        grid = pd.date_range(g["bucket_start"].min(), g["bucket_start"].max(), freq="h")
        counts = (
            g.set_index("bucket_start")["n_points"].reindex(grid).fillna(0.0)
        )
        v = counts.to_numpy(dtype=float)[:, None]
        out[url] = _detect(v, grid.to_numpy())
    return out


def count(detections: dict[str, list]) -> int:
    return sum(len(v) for v in detections.values())
