"""Seeded page inputs for the benchmark, built on
``sources.pages.generate_url_history``.

The library generator starts every url on 2024-01-01, so its tables are
front-loaded (most rows land on day 1). Here each url starts at its own
hour, spread evenly over the window and the two days before it, so every
day carries a similar row count, and two kinds of change are planted on top
of the text-length regimes the generator already has:

- a crawl-frequency drop: a url crawled every 15 minutes for ~20 hours,
  then every 3 hours, so the freq detector leaves its pre-detection fast
  path;
- a churn regime: a url crawled 48 times from the first hours of the
  window; after a seeded crawl, each revision's text is a fresh shuffle of
  its words, so consecutive snapshots stop sharing shingles and the churn
  detector sees a change-score shift.

Everything is a pure function of (seed, shape), written as one parquet file
per day so the streaming ingest can treat each day as one input file.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from streamchange_spark.sources.pages import generate_url_history

DAY_S = 86_400
#: crawls of a url with a planted frequency drop: 80-87 at 15 minutes, then
#: one every 3 hours, whatever the shape's mean (the detector needs a few
#: dozen hours on each side of the drop)
DROP_CRAWLS = 96
#: crawls of a url with a planted churn regime: with the mean's ~8, the
#: churn scan rarely has enough points on each side to detect it
CHURN_CRAWLS = 48
EPOCH = pd.Timestamp("2024-01-01", tz="UTC")
SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def seeded(seed: int, *salt) -> np.random.RandomState:
    """A generator drawn from ``seed`` (any integer: negative, or wider
    than the 32 bits ``RandomState`` takes) and a salt naming the stream."""
    digest = hashlib.sha256(repr((seed, *salt)).encode()).digest()
    return np.random.RandomState(int.from_bytes(digest[:4], "big"))


def _shuffle_words(text: str, rng: np.random.RandomState) -> str:
    head, _, body = text.partition(" lang=")
    lang, _, filler = body.partition(" ")
    words = filler.split()
    rng.shuffle(words)
    return f"{head} lang={lang} " + " ".join(words)


def url_rows(url_id: int, shape: dict, seed: int, freq_drop: bool, churn: bool) -> pd.DataFrame:
    """One url's crawls: the library history at the url's start hour, with
    the planted changes the caller picked for this url."""
    rng = np.random.RandomState((seed * 1_000_003 + url_id) % 2**32)
    if freq_drop:
        # crawls on a regular 15-minute schedule from the first hours of
        # the window; from a seeded crawl ~20 h in, one every 3 hours
        pdf = generate_url_history(url_id, shape["urls"], DROP_CRAWLS, seed)
        pdf = pdf.iloc[:DROP_CRAWLS].copy()
        k = np.arange(len(pdf))
        cut = 80 + int(rng.randint(0, 8))
        secs = np.where(k < cut, k * 900, cut * 900 + (k - cut) * 3 * 3600)
        secs = secs + rng.randint(0, 60, len(k)) + 3600 * int(rng.randint(0, 3))
        pdf["warc_ts"] = EPOCH.tz_localize(None) + pd.to_timedelta(secs, unit="s")
    elif churn:
        # the library's crawl steps (~1.5 days for 48 crawls), starting in
        # the first 12 hours of the window
        pdf = generate_url_history(url_id, shape["urls"], CHURN_CRAWLS, seed)
        pdf = pdf.iloc[:CHURN_CRAWLS].copy()
        start = EPOCH.tz_localize(None) + pd.Timedelta(hours=int(rng.randint(0, 12)))
        pdf["warc_ts"] = pdf["warc_ts"] - pdf["warc_ts"].iloc[0] + start
    else:
        pdf = generate_url_history(
            url_id, shape["urls"], shape["mean_snapshots"], seed
        )
        # start hours spread evenly over [-2 days, end) by url id (golden-
        # ratio steps), the same for every seed: a url's history (hours to
        # a few days) overlaps the window wherever it starts, so days fill
        # evenly and the table's size hardly depends on the seed
        span_h = 48 + 24 * shape["days"]
        start_h = int(-48 + (url_id * 0.6180339887 % 1.0) * span_h) - url_id % 24
        pdf["warc_ts"] = pdf["warc_ts"] + pd.Timedelta(hours=start_h)
    n = len(pdf)
    if churn:
        cut = int(rng.randint(n // 3, 2 * n // 3))
        texts = pdf["text"].tolist()
        for i in range(cut, n):
            texts[i] = _shuffle_words(texts[i], rng)
        pdf["text"] = texts
        pdf["html"] = [f"<html><body>{t}</body></html>".encode() for t in texts]
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    end = EPOCH + pd.Timedelta(days=shape["days"])
    return pdf[(pdf["warc_ts"] >= EPOCH) & (pdf["warc_ts"] < end)]


def late_rows(pages: pd.DataFrame, days: list[str], share: float, seed: int) -> pd.DataFrame:
    """A late shard: seeded re-crawls (7 minutes after a committed crawl,
    new revision text) of a ``share`` of the crawls dated in ``days``."""
    rng = np.random.RandomState((seed * 7919 + 17) % 2**32)
    day = pages["warc_ts"].dt.strftime("%Y-%m-%d")
    src = pages[day.isin(days)]
    src = src[rng.rand(len(src)) < share].copy()
    src["warc_ts"] = src["warc_ts"] + pd.Timedelta(minutes=7)
    src["text"] = src["text"].str.replace(" rev=", " rev=late", n=1, regex=False)
    src["html"] = [f"<html><body>{t}</body></html>".encode() for t in src["text"]]
    # a re-crawl of a day's last crawl may cross midnight: keep it in its day
    return src[src["warc_ts"].dt.strftime("%Y-%m-%d").isin(days)]


def make_pages(shape: dict, seed: int) -> tuple[pd.DataFrame, dict, list[str]]:
    """The whole table for ``seed``, its recorded shape, and the urls with
    a planted crawl-frequency drop. The seed picks which urls carry a
    planted change; how many is fixed by the shape, so every seed gives a
    table of about the same size and detection load."""
    rng = np.random.RandomState(seed % 2**32)
    order = rng.permutation(shape["urls"])
    drops = round(shape["freq_drop_share"] * shape["urls"])
    churns = round(shape["churn_share"] * shape["urls"])
    drop_ids = set(order[:drops].tolist())
    churn_ids = set(order[drops:drops + churns].tolist())
    frames = [
        url_rows(u, shape, seed, u in drop_ids, u in churn_ids)
        for u in range(shape["urls"])
    ]
    drop_urls = sorted(frames[u]["url"].iloc[0] for u in drop_ids)
    pages = pd.concat(frames, ignore_index=True)
    per_day = pages["warc_ts"].dt.strftime("%Y-%m-%d").value_counts().sort_index()
    info = {
        "urls": int(pages["url"].nunique()),
        "rows": int(len(pages)),
        "rows_per_day": {k: int(v) for k, v in per_day.items()},
        "planted_freq_drops": drops,
        "planted_churn": churns,
    }
    return pages, info, drop_urls


def day_list(shape: dict) -> list[str]:
    return [
        (dt.date(2024, 1, 1) + dt.timedelta(days=i)).isoformat()
        for i in range(shape["days"])
    ]


def write_day_files(pages: pd.DataFrame, out_dir: str, days: list[str]) -> None:
    """One parquet file per day under ``out_dir`` (created), for ``days``."""
    os.makedirs(out_dir, exist_ok=True)
    day = pages["warc_ts"].dt.strftime("%Y-%m-%d")
    for d in days:
        table = pa.Table.from_pandas(
            pages[day == d][ARROW_SCHEMA.names], schema=ARROW_SCHEMA, preserve_index=False
        )
        pq.write_table(table, os.path.join(out_dir, f"day={d}.parquet"))
