"""Cold-tier storage: tier point series ⇄ Gorilla blobs, via Spark.

A cold tier stores one row per (url, tier, measure): the whole bucket
series packed into a single BinaryType blob (operators/codec.py), plus
metadata (n_points, t0, t1, raw/encoded byte sizes). At 10^12 docs this
turns billions of tiny tier rows into compact per-series blobs that
partition-prune on (tier, url_bucket) and decompress independently —
blob-level parallelism, the standard TSDB cold-path layout.

Implementation: the encode runs ``applyInPandas`` per url_bucket group
(a url's series must meet in one group); the decode runs
``mapInPandas`` per Arrow batch (a blob decodes alone, so no shuffle).
BOTH directions run batch-wide through the codec's many-series forms
(``encode_series_many`` / ``decode_series_many``) — no per-row, and no
per-SERIES, Python in either hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bucketing import N_URL_BUCKETS, url_bucket
from .codec import decode_series_many, encode_series_many

COLD_SCHEMA = (
    "url string, url_hash long, measure string, bucket_day date, n_points int, "
    "t0 long, t1 long, raw_bytes long, blob_bytes long, blob binary"
)

POINTS_SCHEMA = "url string, url_hash long, measure string, bucket_start timestamp, value long"


def encode_cold(tier_df: DataFrame, measures: list[str] | None = None,
                n_buckets: int = N_URL_BUCKETS,
                day_keyed: bool = True) -> DataFrame:
    """Pack a url-grain tier table into per-(url, measure[, DAY])
    Gorilla blobs. Day-keyed blobs (ADVICE r4, the default) make the
    cold table partition-deletable on ``bucket_day`` exactly like the
    hot tiers — ``enforce_cold_policy`` clears a day's prior blob
    generation with a metadata-only delete before appending the
    re-encoded one, so a day that went cold → was re-delivered hot →
    went cold again can never leave two conflicting generations behind.
    A 1m-tier day is ≤1440 points per blob, ample for the
    delta-of-delta window; the day axis is the same Iceberg partition
    axis the hot tiers use.

    ``day_keyed=False`` packs one blob per (url, measure) across the
    whole input — the bulk-export / archive shape (maximum codec
    window, fewest rows; for a 1d tier, day-keyed blobs would hold ONE
    point each). Use it when the output is immutable, i.e. nothing
    will ever need a per-day generation replacement; ``bucket_day``
    then records the blob's FIRST day and is not a delete axis."""
    measures = measures or ["point_count", "byte_size", "text_len_sum"]
    cols = ["url", "url_hash", "bucket_start", *measures]
    src = tier_df.select(*cols).withColumn("_b", url_bucket("url", n_buckets))

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-group batch encode: one ``encode_series_many`` call per
        measure over ALL urls' series at once (codec.py — per-series
        numpy-call overhead was the cold-write bottleneck at billions
        of short series; the batch path is ~5× on that shape)."""
        pdf = pdf.sort_values(["url", "bucket_start"], kind="mergesort")
        ts_all = (pdf["bucket_start"].astype("int64") // 1_000_000_000).to_numpy()
        day_all = ts_all // 86400
        url_arr = pdf["url"].to_numpy()
        if len(url_arr) == 0:
            return pd.DataFrame(
                columns=["url", "url_hash", "measure", "bucket_day", "n_points",
                         "t0", "t1", "raw_bytes", "blob_bytes", "blob"],
            )
        new_series = url_arr[1:] != url_arr[:-1]
        if day_keyed:
            new_series = new_series | (day_all[1:] != day_all[:-1])
        first = np.flatnonzero(np.concatenate([[True], new_series]))
        ns = np.diff(np.concatenate([first, [len(url_arr)]]))
        urls = url_arr[first]
        uh = pdf["url_hash"].to_numpy()[first]
        days = pd.to_datetime(day_all[first] * 86400, unit="s").date
        t0s, t1s = ts_all[first], ts_all[first + ns - 1]
        frames = []
        for m in measures:
            blobs = encode_series_many(
                ts_all, pdf[m].to_numpy(dtype=np.int64), ns
            )
            frames.append(pd.DataFrame(
                {"url": urls, "url_hash": uh, "measure": m, "bucket_day": days,
                 "n_points": ns.astype("int64"), "t0": t0s, "t1": t1s,
                 "raw_bytes": (16 * ns).astype("int64"),
                 "blob_bytes": np.array([len(b) for b in blobs], dtype="int64"),
                 "blob": blobs}
            ))
        return pd.concat(frames, ignore_index=True)

    return src.groupBy("_b").applyInPandas(enc, schema=COLD_SCHEMA)


def decode_cold(cold_df: DataFrame) -> DataFrame:
    """Unpack cold blobs back to (url, url_hash, measure, bucket_start,
    value) points — the cold READ path. Blobs decode independently, so
    each Arrow batch of blob rows decodes where it was scanned
    (``mapInPandas``: no shuffle) through the transposed batch decoder
    (``codec.decode_series_many``: all blob cursors advance in
    lock-step, vectorized across the batch), and the key columns expand
    with ``np.repeat`` — no per-blob or per-point Python."""

    def dec(batches):
        for pdf in batches:
            if len(pdf) == 0 or int(pdf["n_points"].sum()) == 0:
                continue
            offsets, ts_flat, vals_flat = decode_series_many(
                [bytes(b) for b in pdf["blob"]]
            )
            counts = np.diff(offsets)
            yield pd.DataFrame(
                {
                    "url": np.repeat(pdf["url"].to_numpy(), counts),
                    "url_hash": np.repeat(pdf["url_hash"].to_numpy(), counts),
                    "measure": np.repeat(pdf["measure"].to_numpy(), counts),
                    "bucket_start": pd.to_datetime(ts_flat, unit="s"),
                    "value": vals_flat.astype(np.int64),
                }
            )

    return cold_df.select("url", "url_hash", "measure", "n_points", "blob").mapInPandas(
        dec, schema=POINTS_SCHEMA
    )


def enforce_cold_policy(store, tier: str = "1d", colder_than_epoch: int = 0,
                        measures: list[str] | None = None) -> int:
    """Compress-after-age policy (TimescaleDB's compress_chunk /
    InfluxDB shard-cold analogue): move hot tier DAYS that are fully
    over before ``colder_than_epoch`` into the Gorilla blob table
    ``cold_<tier>``, then drop those hot partitions. Idempotent and
    crash-safe by construction (ADVICE r4 hardening):

    - a day closes only when ``day_start + 86400 <= cutoff`` — the
      calendar day is OVER, never "the sparse trailing buckets we
      happen to have seen so far", so a sub-day tier's late-arriving
      buckets can't be stranded behind an early move;
    - delete-cold → append-cold → delete-hot: stale blob generations
      for the moved days (a day that went cold, was re-delivered hot
      under a new input snapshot via pending_days, and is now moving
      again) are cleared FIRST with a partition-level delete (blobs are
      day-keyed), so ``cold_<tier>`` holds at most one generation per
      (url, measure, day);
    - every crash window is safe: after delete-cold the hot copy still
      serves; after append both copies exist and
      :func:`read_tier_with_cold` gives hot per-bucket precedence; a
      re-run repeats the delete+append with identical results.

    Only whole days move (bucket_day is the partition axis on BOTH
    sides). Returns days moved.
    """
    name, cold_name = f"tier_{tier}", f"cold_{tier}"
    if not store.exists(name):
        return 0
    hot = store.read(name)
    closed = (
        hot.select("bucket_day").distinct()
        .where(
            F.col("bucket_day").cast("timestamp").cast("long") + 86400
            <= F.lit(colder_than_epoch)
        )
    )
    days = [r["bucket_day"] for r in closed.collect()]
    if not days:
        return 0
    old = hot.where(F.col("bucket_day").isin(days))
    if store.exists(cold_name):
        store.delete_where_partition(cold_name, "bucket_day", [str(d) for d in days])
    store.append(encode_cold(old, measures), cold_name,
                 partition_by=["bucket_day"])
    store.delete_where_partition(name, "bucket_day", [str(d) for d in days])
    return len(days)


def read_tier_with_cold(store, tier: str = "1d",
                        measures: list[str] | None = None) -> DataFrame:
    """Transparent hot ∪ cold tier read: hot rows win per (url, bucket)
    — the crash-window belt for :func:`enforce_cold_policy` — and cold
    blobs decode + pivot back to the wide tier shape for every bucket
    hot no longer holds. Cold keeps only the policy's measures (the
    standard cold-path tradeoff); callers needing full hot columns
    (lang, min/max) query inside the hot horizon.

    Scale shape: the cold side is only expired buckets, the precedence
    anti-join is keyed on (url, bucket_start) — an ordinary shuffled
    join pruned by whatever time predicate the caller pushes down; blobs
    decode per scanned Arrow batch as in :func:`decode_cold`."""
    measures = measures or ["point_count", "byte_size", "text_len_sum"]
    name, cold_name = f"tier_{tier}", f"cold_{tier}"
    have_hot, have_cold = store.exists(name), store.exists(cold_name)
    if not have_cold and not have_hot:
        raise ValueError(f"no {name} or {cold_name} in store")
    cols = ["url", "url_hash", "bucket_start", *measures]
    hot = store.read(name).select(*cols) if have_hot else None
    cold = store.read(cold_name) if have_cold else None
    return merge_hot_cold(hot, cold, measures)


def merge_hot_cold(hot: DataFrame | None, cold_blobs: DataFrame | None,
                   measures: list[str]) -> DataFrame:
    """The hot-wins ∪-merge at the heart of :func:`read_tier_with_cold`,
    factored out so the driver's contract gate can certify it directly
    against a SQL oracle (``cold_read_union_events``): decode the blob
    side, pivot it back to the wide tier shape, and union in only the
    (url, bucket) rows hot does not hold. Either side may be ``None``
    (pass at least one)."""
    if cold_blobs is None:
        return hot
    cols = ["url", "url_hash", "bucket_start", *measures]
    pts = decode_cold(cold_blobs.distinct())
    wide = (
        pts.groupBy("url", "url_hash", "bucket_start")
        .pivot("measure", measures)
        .agg(F.first("value"))
    )
    if hot is None:
        return wide.select(*cols)
    cold_only = wide.join(
        hot.select("url", "bucket_start").distinct(),
        ["url", "bucket_start"], "left_anti",
    )
    return hot.unionByName(cold_only.select(*cols))
