"""Deterministic synthetic ``pages`` table generator.

Schema (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Properties required by the test plan (FIXTURES.md):
- fully reproducible from ``(seed, n_rows, t0, t1)`` regardless of
  partitioning — every column derives from the row id via stateless
  integer mixing (splitmix64), never from RNG stream position;
- Zipf-skewed domains (top domain ~20%+ of rows) so hot-domain salting
  is observable;
- irregular revisit intervals with multi-bucket gaps (LOCF matters) and
  singleton urls (no-fabrication check);
- ``text`` is a pure function of (url, content_rev) → byte-identical
  across pipeline passes;
- unique ``(url, warc_ts)``: second-granularity random timestamp plus a
  unique microsecond offset (id % 1e6; generator enforces n ≤ 1e6 * the
  second-range, trivially true at sandbox scales);
- rows emitted in id order but timestamps unsorted (engine may not
  assume input order).

Generation runs distributed: ``spark.range(n)`` → ``mapInPandas`` —
the same code generates 10^12 rows on a cluster (the generator is
embarrassingly parallel and allocation-free per row-batch).

Reference analogue: the upstream DataFeeder block source
(``/root/reference/src/chainalytic/zones/public-icon/upstream/data_feeder.py:86-111``)
— here the "chain" is a synthetic crawl.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt", "it", "nl", "pl", "ko"]
# skewed toward 'en' (~45%)
_LANG_W = np.array([0.45, 0.09, 0.08, 0.08, 0.07, 0.05, 0.05, 0.04, 0.03, 0.03, 0.02, 0.01])

_VOCAB = (
    "the web page crawl data spark rollup tier bucket window state fold "
    "stream time series gap fill codec retention checkpoint lineage metric "
    "url domain lang text html byte size count stat point history snapshot"
).split()


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Stateless 64-bit mixer (public-domain splitmix64 finalizer)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def _mix(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    return _splitmix64(ids.astype(np.uint64) ^ np.uint64(seed * 0x9E3779B9 + stream * 0x85EBCA6B))


def _uniform(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    return _mix(ids, seed, stream).astype(np.float64) / float(2**64)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    *,
    seed: int = 42,
    t0: str = "2024-01-01 00:00:00",
    t1: str = "2024-01-08 00:00:00",
    n_domains: int = 1000,
    urls_per_domain: int = 40,
    zipf_s: float = 1.2,
    html_max: int = 4096,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages generator.

    ``html_max`` defaults far below the FIXTURES 256KB ceiling to keep
    sandbox runs I/O-light; the size *distribution shape* (uniform in
    [64, html_max)) is what the byte-size stats exercise.
    """
    t0_s = int(pd.Timestamp(t0).value // 1_000_000_000)
    t1_s = int(pd.Timestamp(t1).value // 1_000_000_000)
    range_s = t1_s - t0_s
    if n_rows > 1_000_000 * max(range_s, 1):
        raise ValueError("n_rows too large for unique (url, warc_ts) guarantee")

    dom_cdf = _zipf_cdf(n_domains, zipf_s)

    def gen(batches):
        # deterministic 64 KB content pool for html slices
        pool = np.frombuffer(
            _splitmix64(np.arange(8192, dtype=np.uint64) ^ np.uint64(seed)).tobytes(), dtype=np.uint8
        ).tobytes()
        pool_len = len(pool)
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            n = len(ids)
            if n == 0:
                continue
            # domain ~ Zipf(s); url = domain + skewed path id
            dom = np.searchsorted(dom_cdf, _uniform(ids, seed, 1), side="left")
            # path skew: popular pages revisited more (squared uniform)
            path = (np.square(_uniform(ids, seed, 2)) * urls_per_domain).astype(np.int64)
            url_id = dom * urls_per_domain + path
            # timestamp: random second in range + unique microsecond offset
            sec = t0_s + (_mix(ids, seed, 3) % np.uint64(range_s)).astype(np.int64)
            us = sec * 1_000_000 + (ids % 1_000_000)
            ts = pd.to_datetime(us, unit="us")
            # content revision: deterministic per (url, coarse time window)
            rev = (_mix(url_id.astype(np.int64) * 7919 + sec // 86400, seed, 4) % np.uint64(5)).astype(
                np.int64
            )
            # lang: function of domain (a site has one dominant language)
            lang_u = _uniform(dom.astype(np.int64), seed, 5)
            lang_ix = np.searchsorted(np.cumsum(_LANG_W), lang_u, side="left").clip(0, len(_LANGS) - 1)
            # html: pool slice, length in [64, html_max)
            hlen = (64 + (_mix(ids, seed, 6) % np.uint64(html_max - 64))).astype(np.int64)
            hoff = (_mix(ids, seed, 7) % np.uint64(pool_len - html_max)).astype(np.int64)

            urls = np.char.add(
                np.char.add("https://d", dom.astype("U8")),
                np.char.add(".example.com/p", path.astype("U8")),
            )
            # text: pure function of (url_id, rev) — vectorized word picks
            wsel = np.empty((n, 12), dtype=np.int64)
            for j in range(12):
                wsel[:, j] = _mix(url_id * 31 + rev, seed, 100 + j) % np.uint64(len(_VOCAB))
            nwords = (3 + (_mix(url_id * 13 + rev, seed, 8) % np.uint64(10))).astype(np.int64)
            varr = np.array(_VOCAB)
            texts = [
                f"u{u}r{r} " + " ".join(varr[wsel[i, : nwords[i]]])
                for i, (u, r) in enumerate(zip(url_id, rev))
            ]
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": ts,
                    "html": [pool[o : o + l] for o, l in zip(hoff, hlen)],
                    "text": texts,
                    "lang": np.array(_LANGS)[lang_ix],
                }
            )

    nparts = n_partitions or max(1, min(64, n_rows // 20_000 + 1))
    return spark.range(0, n_rows, numPartitions=nparts).mapInPandas(gen, schema=PAGES_SCHEMA)
