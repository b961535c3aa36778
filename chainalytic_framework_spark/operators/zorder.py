"""Z-order (Morton) write clustering + file-level zone-map pruning —
multi-dimensional data skipping for the tier tables.

The problem: tier tables are partitioned by day (the dominant query
axis) and hash-clustered by url_hash INSIDE each day
(tables.py::cluster_for_write_hash). That layout prunes time predicates
perfectly, but a url-only predicate ("this domain's series across all
history") must open every file of every day: a 1-D sort order can only
skip on its leading dimension. The classic fix (Databricks OPTIMIZE
ZORDER, Iceberg's sort-order rewrite) is to sort files along a
space-filling curve so every file covers a small RECTANGLE of
(url_bucket × time) — then min/max stats prune BOTH axes.

Z-value: interleave the bits of the (bounded-int) dimensions,
low-to-high: z = x0b0·2⁰ + x1b0·2¹ + x0b1·2² + … . Pure
shift/or/and column expressions — whole-stage codegen, no UDF; for
``bits=16``, two dims cost 64 integer ops/row. Locality follows from
the curve: consecutive z-values differ in low-order bits, so a
z-range-partitioned file spans ≈ √(file_fraction) of EACH dimension
instead of all of one.

Zone map: per-file min/max of the clustered columns, computed with one
``input_file_name()`` group-by and stored as a tiny manifest table —
the parquet stand-in for Iceberg's ``files`` metadata (which a cluster
deployment reads instead; parquet row-group stats give the same skips
within a file, the zone map gives them without opening footers).
``pruned_read`` intersects query boxes with file boxes driver-side
(bounded metadata, ≈ n_files rows — the same class of driver action as
tables.py::partition_file_stats) and scans only surviving files, with
the residual filter still applied.

Reference analogue: none (LevelDB's single key order IS a 1-D sort);
engine-added scale capability, SURVEY §2.11 family.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import TableStore


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton interleave of bounded non-negative ints (each < 2^bits).
    Dimension i contributes its bit b at output position b·ndims + i.
    """
    nd = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        x = c.cast("long")
        for b in range(bits):
            bit = F.shiftright(x, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * nd + i))
    return z


def write_zordered(
    store: TableStore,
    df: DataFrame,
    name: str,
    zcols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Write ``df`` as z-clustered parquet: range-partition on the
    Morton key (each task = one contiguous curve segment = one small
    rectangle in dimension space), sort within, drop the key. Builds
    the zone-map manifest alongside (one extra metadata-cheap scan of
    the written files)."""
    n = n_files or store.spark.sparkContext.defaultParallelism
    z = zorder_key([F.col(c) for c in zcols], bits=bits)
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    store.write(clustered, name)
    build_zone_map(store, name, zcols)


def build_zone_map(store: TableStore, name: str, cols: list[str]) -> None:
    """Per-file min/max manifest for ``cols`` -> table ``<name>__zonemap``.
    Schema: (file, <c>_min, <c>_max ...)."""
    df = store.read(name).withColumn("_file", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    zm = df.groupBy("_file").agg(*aggs)
    store.write(zm, f"{name}__zonemap")


def pruned_read(
    store: TableStore,
    name: str,
    boxes: dict[str, tuple[int, int]],
) -> tuple[DataFrame, int, int]:
    """Read ``name`` scanning only files whose zone-map box intersects
    every ``col: (lo, hi)`` predicate (inclusive). Returns
    (dataframe-with-residual-filter, files_scanned, files_total).

    The file-list intersection is driver-side METADATA (n_files rows);
    the data path stays fully distributed. On Iceberg the same skip
    comes from manifest-level column stats — this is the parquet-dir
    equivalent."""
    zm = store.read(f"{name}__zonemap")
    cond = F.lit(True)
    for c, (lo, hi) in boxes.items():
        cond = cond & (F.col(f"{c}_max") >= lo) & (F.col(f"{c}_min") <= hi)
    total = zm.count()
    files = [r["_file"] for r in zm.where(cond).select("_file").collect()]
    if not files:
        empty = store.read(name).where(F.lit(False))
        return empty, 0, total
    df = store.spark.read.parquet(*files)
    for c, (lo, hi) in boxes.items():
        df = df.where((F.col(c) >= lo) & (F.col(c) <= hi))
    return df, len(files), total
