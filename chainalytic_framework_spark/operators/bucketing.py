"""Tier widths, tumbling-bucket expressions, key hashing.

The engine's time axis is four epoch-aligned tumbling tiers. Buckets
are computed arithmetically (``floor(epoch / width) * width``) rather
than via ``F.window`` structs: identical semantics for tumbling
windows, no struct overhead, exactly reproducible in ANSI SQL (oracle
parity), and — because 30d = 30 × 1d = 720 × 1h = 43200 × 1m — every
finer bucket nests exactly inside its coarser parent, which is what
makes the downsample cascade (``downsample_with_spec`` in
operators/registry.py) re-aggregate losslessly.

Reference analogue: block height as the discrete time axis
(``/root/reference/zones/public-icon/warehouse/storage.py:118-123``);
one height == one finest-tier bucket.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "30d": 2_592_000}
TIER_ORDER = ["1m", "1h", "1d", "30d"]

# Default key-space bucketing for state/fold partitioning — the unit of
# fold parallelism AND of per-group pandas overhead. Size it to the
# cluster: at 100 TB use 4096+ (25 GB/bucket keeps per-task state
# bounded; export SPARK_GRAFT_URL_BUCKETS=4096 via spark-submit); in the
# 32-core sandbox 256 groups amortize the ~4 ms Arrow/pandas per-group
# cost while still giving 8 waves of parallelism.
import os as _os

N_URL_BUCKETS = int(_os.environ.get("SPARK_GRAFT_URL_BUCKETS", "256"))


def bucket_start(ts: Column | str, tier_name: str) -> Column:
    """Tumbling-window start: floor of ts to the tier width, epoch-aligned.

    Casting timestamp→long yields epoch seconds (truncation toward
    zero; all engine timestamps are post-1970 so floor==trunc).
    """
    secs = SECONDS[tier_name]
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_seconds((c.cast("long") / secs).cast("long") * secs)


def url_hash(url: Column | str = "url") -> Column:
    """64-bit stable key hash. xxhash64 is JVM-side, codegen-friendly,
    and uniform — the basis of url bucketing and state joins."""
    c = F.col(url) if isinstance(url, str) else url
    return F.xxhash64(c)


def url_bucket(url: Column | str = "url", n_buckets: int = N_URL_BUCKETS) -> Column:
    return F.pmod(F.xxhash64(F.col(url) if isinstance(url, str) else url), F.lit(n_buckets)).cast(
        "int"
    )


_CALENDAR_UNITS = ("week", "month", "quarter", "year")


def calendar_bucket(ts: Column | str, unit: str) -> Column:
    """CALENDAR-aligned bucket start (epoch seconds): month/quarter/year
    buckets are variable-length, so they cannot be expressed as a fixed
    tumbling width like the 1m/1h/1d/30d tiers — this is the
    continuous-aggregate grain TimescaleDB calls ``time_bucket('1
    month', ...)``. Weeks start Monday (ISO), matching DuckDB.

    Session timezone is UTC (session.py pins it), so NTZ→LTZ cast is
    identity and the truncation is engine-exact.
    """
    if unit not in _CALENDAR_UNITS:
        raise ValueError(f"unknown calendar unit {unit!r}; expected {_CALENDAR_UNITS}")
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_trunc(unit, c.cast("timestamp")).cast("long")
