"""Storage adapter: Iceberg on a real cluster, parquet dirs in the sandbox.

The engine's write/read surface is format-agnostic so the same pipeline
code runs against Iceberg tables (``spark.read.table``, writerV2
``createOrReplace``/``append``/``overwritePartitions``, ``MERGE INTO``,
partition ``DELETE``, snapshot ids) on a cluster with the
iceberg-spark-runtime jars, and against partition-layout-identical
parquet directories here (this sandbox ships no Iceberg jars — never
hard-import it). EVERY ``TableStore`` operation resolves through one
``IcebergBackend`` when ``spark.sql.catalog.rollup`` is configured, so
a cluster deployment reads and writes one uniform warehouse — no
parquet-path fallbacks on any branch.

Partition layout for tier tables: ``(tier, bucket_day)`` directory
partitioning with files range-distributed by ``url_bucket`` inside —
at 100 TB this gives partition pruning on time predicates (the dominant
query axis) and bounded file counts.

Reference analogue: the warehouse storage layer
(``/root/reference/src/chainalytic/warehouse/storage.py:45-73`` and
``zones/public-icon/warehouse/storage.py:112-154``) — per-transform
LevelDB keyed by height, replaced by partitioned columnar tables.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def merge_into_sql(table: str, source_view: str, key: str, cols: list[str]) -> str:
    """Row-level upsert statement for the Iceberg branch of
    ``TableStore.merge_upsert`` (reference S7 batched ledger upsert).
    Pure string construction so the cluster-only branch is unit-testable
    without Iceberg jars."""
    sets = ", ".join(f"t.{c} = s.{c}" for c in cols if c != key)
    ins_cols = ", ".join(cols)
    ins_vals = ", ".join(f"s.{c}" for c in cols)
    return (
        f"MERGE INTO {table} t "
        f"USING {source_view} s ON t.{key} = s.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def rewrite_data_files_sql(catalog: str, namespace: str, table: str,
                           target_bytes: int) -> str:
    """Iceberg compaction call for the cluster branch of
    ``TableStore.compact_partitions`` (bin-pack small files produced by
    many incremental commits). Pure string construction so the
    cluster-only branch is unit-testable without Iceberg jars."""
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{namespace}.{table}', strategy => 'binpack', "
        f"options => map('target-file-size-bytes', '{target_bytes}'))"
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured (cluster deployments)."""
    try:
        return bool(spark.conf.get("spark.sql.catalog.rollup", None))
    except Exception:
        return False


class IcebergBackend:
    """Every TableStore operation expressed against ONE Iceberg catalog
    table per logical name — the uniform warehouse the reference has
    (``/root/reference/src/chainalytic/warehouse/storage.py:45-73``: all
    transforms read and write the same store). Previously only
    ``merge_upsert`` and ``compact_partitions`` had an Iceberg branch,
    so on a cluster MERGE INTO wrote to the catalog while every other
    stage read/wrote parquet paths — split-brained. Now ``read`` /
    ``write`` / ``append`` / ``overwrite_partitions`` /
    ``delete_where_partition`` / ``snapshot_id`` / ``exists`` all
    resolve to ``<catalog>.<namespace>.<name>``.

    The sandbox ships no Iceberg jars, so each method is a thin
    composition of ``spark.sql(<string built by a pure function>)`` or a
    ``DataFrameWriterV2`` chain — unit-testable with recorder fakes
    (``tests/test_tables.py::TestIcebergBackend``) without executing
    Iceberg itself.
    """

    def __init__(self, spark: SparkSession, catalog: str = "rollup"):
        self.spark = spark
        self.catalog = catalog

    @property
    def namespace(self) -> str:
        return self.spark.conf.get(
            f"spark.sql.catalog.{self.catalog}.namespace", "rollup"
        )

    def qualified(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        return bool(self.spark.catalog.tableExists(self.qualified(name)))

    def read(self, name: str):
        return self.spark.read.table(self.qualified(name))

    def read_as_of(self, name: str, snapshot_id: str):
        """Time-travel read pinned to a snapshot — how a cluster
        re-reads EXACTLY the input a checkpoint manifest row recorded
        (``input_snapshot_id`` lineage, plans/checkpoint.py)."""
        return (
            self.spark.read.option("snapshot-id", str(snapshot_id))
            .table(self.qualified(name))
        )

    def write(self, df, name: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        """``overwrite`` → ``createOrReplace`` (atomic snapshot swap);
        ``append`` on an existing table → ``append()`` (partition spec
        is a table property, not a per-write option, in Iceberg)."""
        q = self.qualified(name)
        if mode == "append" and self.exists(name):
            df.writeTo(q).append()
            return
        from pyspark.sql import functions as F

        w = df.writeTo(q).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def append(self, df, name: str, partition_by: list[str] | None = None) -> None:
        self.write(df, name, partition_by=partition_by, mode="append")

    def overwrite_partitions(self, df, name: str,
                             partition_by: list[str] | None = None) -> None:
        """Dynamic partition overwrite: replaces exactly the partitions
        present in ``df`` under snapshot isolation — readers of the
        previous snapshot are unaffected, and (unlike the parquet
        branch) the table can be READ while being overwritten, so no
        ``__staged`` copy is needed."""
        if not self.exists(name):
            self.write(df, name, partition_by=partition_by, mode="overwrite")
            return
        df.writeTo(self.qualified(name)).overwritePartitions()

    def merge_upsert_single_key(self, delta, name: str, key: str) -> None:
        """Row-level MERGE INTO — requires one delta row per key
        (Iceberg errors on multi-matches); the multi-row restatement
        path goes through ``overwrite_partitions`` instead."""
        view = f"_merge_src_{name}"
        delta.createOrReplaceTempView(view)
        self.spark.sql(
            merge_into_sql(self.qualified(name), view, key, delta.columns)
        )

    def delete_where_partition(self, name: str, partition_col: str,
                               values: list[str]) -> int:
        if not values:
            return 0
        self.spark.sql(
            delete_where_sql(self.qualified(name), partition_col, values)
        )
        return len(values)

    def snapshot_id(self, name: str) -> str:
        """Current snapshot id from the ``history`` metadata table —
        driver-side metadata read, the Iceberg-native analogue of the
        parquet file-listing fingerprint."""
        if not self.exists(name):
            return "empty"
        # snapshot_id DESC tie-break (ADVICE r3): rapid successive commits
        # can share a made_current_at timestamp; the secondary key makes
        # the pick deterministic so checkpoint lineage can't flap between
        # runs reading an unchanged table
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.qualified(name)}.history "
            f"ORDER BY made_current_at DESC, snapshot_id DESC LIMIT 1"
        ).collect()
        return str(rows[0][0]) if rows else "empty"

    def partition_file_stats(self, name: str) -> dict[str, tuple[int, int]]:
        """From the ``files`` metadata table (never data files)."""
        rows = self.spark.sql(
            f"SELECT CAST(partition AS STRING) AS p, COUNT(*) AS n, "
            f"SUM(file_size_in_bytes) AS b "
            f"FROM {self.qualified(name)}.files GROUP BY partition"
        ).collect()
        return {r["p"]: (int(r["n"]), int(r["b"])) for r in rows}

    def compact(self, name: str, target_bytes: int) -> None:
        self.spark.sql(
            rewrite_data_files_sql(self.catalog, self.namespace, name, target_bytes)
        )


def delete_where_sql(table: str, partition_col: str, values: list[str]) -> str:
    """Partition-level DELETE for the Iceberg branch (values are
    partition literals like bucket days — quoted as strings; Iceberg
    turns a partition-column-only predicate into metadata deletes).
    Pure string construction for jar-free unit tests."""
    quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"DELETE FROM {table} WHERE {partition_col} IN ({quoted})"


def _listing(base: str) -> tuple[tuple[str, int, int], ...]:
    """(relative path, size, mtime_ns) of every parquet data file under
    ``base``, in walk order — the table's snapshot as the file system
    shows it. Every write, overwrite, delete or compaction adds, removes
    or rewrites a data file, so an equal listing means unchanged data."""
    out = []
    for dirpath, dirs, files in os.walk(base):
        # Spark skips hidden and in-flight paths (``_temporary``) too
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, base), st.st_size, st.st_mtime_ns))
    return tuple(out)


# Opened parquet tables: {session: OrderedDict{path: (listing, JVM
# Dataset)}}, least recently used first. Opening a table costs a Spark
# job (footer schema inference) plus a file listing; a serving request
# re-opens every table it routes to, so reads of an unchanged table
# reuse its opened Dataset. Sessions are held weakly, so a session built
# after ``stop()`` never sees an earlier session's handles; the cached
# value is the JVM handle, not a Python DataFrame, which would hold its
# session and so keep the weak key alive forever.
_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_HANDLES_LOCK = threading.Lock()
MAX_OPEN_TABLES = 64


@dataclass
class TableStore:
    """Parquet-dir table store with Iceberg-shaped semantics.

    ``root`` holds one directory per logical table. ``snapshot_id`` is
    a content fingerprint of the table's file listing — the parquet
    stand-in for an Iceberg snapshot id, used by checkpoint lineage.
    """

    spark: SparkSession
    root: str

    @property
    def iceberg(self) -> IcebergBackend | None:
        """The catalog backend when configured (cluster), else None.
        Resolved per call so tests can flip the conf on a live session."""
        return IcebergBackend(self.spark) if iceberg_available(self.spark) else None

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if (b := self.iceberg) is not None:
            return b.exists(name)
        return bool(_listing(self.path(name)))

    def read(self, name: str) -> DataFrame:
        """The table as a DataFrame. Parquet: opened once per file
        listing and session — a read of an unchanged table returns the
        handle the previous read opened, with no Spark job; any write
        changes the listing, so the next read opens the new files."""
        if (b := self.iceberg) is not None:
            return b.read(name)
        path = self.path(name)
        listing = _listing(path)
        if not listing:  # let Spark raise its own error for a missing table
            return self.spark.read.parquet(path)
        with _HANDLES_LOCK:
            handles = _HANDLES.setdefault(self.spark, OrderedDict())
            hit = handles.get(path)
            if hit is not None and hit[0] == listing:
                handles.move_to_end(path)
                return DataFrame(hit[1], self.spark)
        df = self.spark.read.parquet(path)
        with _HANDLES_LOCK:
            handles[path] = (listing, df._jdf)
            handles.move_to_end(path)
            while len(handles) > MAX_OPEN_TABLES:
                handles.popitem(last=False)
        return df

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        if (b := self.iceberg) is not None:
            b.write(df, name, partition_by=partition_by, mode=mode)
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def append(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None) -> None:
        """Atomic append commit (manifest rows, streaming micro-batch
        flushes). One parquet job / one Iceberg append snapshot."""
        self.write(df, name, partition_by=partition_by, mode="append")

    def read_as_of(self, name: str, snapshot_id: str) -> DataFrame:
        """Snapshot-pinned read. Iceberg: native time travel. Parquet
        sandbox: snapshot ids are listing fingerprints, not retained
        versions — only the CURRENT snapshot is readable (asserted), so
        callers fail loudly instead of silently reading newer data."""
        if (b := self.iceberg) is not None:
            return b.read_as_of(name, snapshot_id)
        current = self.snapshot_id(name)
        if str(snapshot_id) != current:
            raise ValueError(
                f"parquet store retains only the current snapshot of {name!r} "
                f"({current}); requested {snapshot_id}. Time travel needs the "
                f"Iceberg backend."
            )
        return self.read(name)

    def cluster_for_write_hash(self, df: DataFrame, partition_by: list[str],
                               secondary: str | None = "url_hash") -> DataFrame:
        """Hash-cluster rows by (partition cols, pmod(secondary)) before a
        partitioned write. Without this, every shuffle task writes one
        file into EVERY partition dir — n_tasks × n_partitions small
        files (1.5M/tier/year at 10^12 scale). File count ≈ one per
        (partition value, secondary group) per task — bounded, though
        without a range layout's global ordering; a local sort restores
        row-group min/max clustering on the secondary key. Hash, not
        ``repartitionByRange``: range runs a separate sampling job that
        RECOMPUTES the child plan — when the child is a pandas fold,
        that doubles the most expensive stage of the run. Costs one
        shuffle of the written rows, with no sampling pass."""
        from pyspark.sql import functions as F

        n = self.spark.sparkContext.defaultParallelism
        cols = [F.col(c) for c in partition_by]
        sort_cols = list(partition_by)
        if secondary and secondary in df.columns:
            cols.append(F.pmod(F.col(secondary), F.lit(n)))
            sort_cols.append(secondary)
        return df.repartition(n, *cols).sortWithinPartitions(*sort_cols)

    def overwrite_partitions(self, df: DataFrame, name: str, partition_by: list[str]) -> None:
        """Dynamic partition overwrite — the parquet analogue of Iceberg
        ``overwritePartitions()``; idempotent re-runs of a bucket range
        replace exactly the partitions they produce (T1 resume semantics).
        """
        if (b := self.iceberg) is not None:
            b.overwrite_partitions(df, name, partition_by=partition_by)
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(name))
        )

    def merge_upsert(
        self,
        delta: DataFrame,
        name: str,
        key: str = "url",
        partition_col: str = "state_bucket",
        single_row_per_key: bool = True,
    ) -> None:
        """Keyed upsert of ``delta`` into a partitioned table, touching
        ONLY the partitions delta lands in (reference S7 batched ledger
        upsert, ``warehouse/storage.py:307-318``).

        Iceberg branch (cluster, ``iceberg_available``): single-row
        deltas run a row-level ``MERGE INTO <catalog>.<ns>.<name> USING
        delta ON key`` — the storage engine rewrites only matching data
        files. MERGE requires one delta row per key (Iceberg errors on
        multi-matches), so multi-row restatement deltas (fold-event
        targeted backfill, ``plans/pipeline.py``) take the SAME
        keep-old∪delta computation as the parquet branch but commit it
        via ``overwritePartitions()`` on the catalog table — snapshot
        isolation lets Iceberg read the table it is overwriting, so no
        ``__staged`` copy is needed and the swap is atomic.

        Parquet branch (sandbox): within the partitions delta touches,
        keep old rows whose key is NOT in delta, union delta, and
        dynamic-partition-overwrite just those partitions. The merged
        content is staged to ``<name>__staged`` first because Spark
        refuses to overwrite a path it is reading from; cost = 2× the
        TOUCHED partitions, not 2× the table (the previous design
        rewrote the full state table twice per run)."""
        secondary = "url_hash" if "url_hash" in delta.columns else None
        # empty delta = nothing to merge. Without this guard the staged
        # table is written with ZERO parquet files and the read-back
        # dies with UNABLE_TO_INFER_SCHEMA (zero-row pending days hit
        # this: obs empty -> empty state delta).
        if delta.isEmpty():
            return
        if not self.exists(name):
            self.write(
                self.cluster_for_write_hash(delta, [partition_col], secondary=secondary),
                name, partition_by=[partition_col],
            )
            return
        backend = self.iceberg
        if single_row_per_key and backend is not None:
            backend.merge_upsert_single_key(delta, name, key)
            return
        old = self.read(name)
        touched = delta.select(partition_col).distinct()
        keep = (
            old.join(touched, partition_col, "left_semi")
            .join(delta.select(key).distinct(), key, "left_anti")
        )
        merged = delta.unionByName(keep.select(delta.columns))
        # hash clustering: range sampling would recompute the delta plan
        # (often a pandas fold) a second time
        merged = self.cluster_for_write_hash(merged, [partition_col], secondary=secondary)
        if backend is not None:
            backend.overwrite_partitions(merged, name, partition_by=[partition_col])
            return
        staged = f"{name}__staged"
        self.write(merged, staged, partition_by=[partition_col])
        self.overwrite_partitions(self.read(staged), name, [partition_col])
        shutil.rmtree(self.path(staged), ignore_errors=True)

    def partition_file_stats(self, name: str) -> dict[str, tuple[int, int]]:
        """{partition dir (relative, e.g. 'bucket_day=2026-01-01'):
        (n_files, total_bytes)} from the file listing — driver-side
        METADATA only (the Iceberg analogue reads the ``files`` metadata
        table), never data."""
        if (b := self.iceberg) is not None:
            return b.partition_file_stats(name)
        base = self.path(name)
        stats: dict[str, tuple[int, int]] = {}
        if not os.path.isdir(base):
            return stats
        for dirpath, _, files in os.walk(base):
            pq = [f for f in files if f.endswith(".parquet")]
            if not pq:
                continue
            rel = os.path.relpath(dirpath, base)
            n, b = stats.get(rel, (0, 0))
            stats[rel] = (
                n + len(pq),
                b + sum(os.path.getsize(os.path.join(dirpath, f)) for f in pq),
            )
        return stats

    def compact_partitions(
        self,
        name: str,
        partition_by: list[str],
        max_files_per_partition: int = 4,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Bin-pack small files inside oversized partitions — the
        maintenance job every incremental-commit table needs: daily
        pipeline runs append/overwrite per-day partitions with
        task-count files, and at 10^12 docs an uncompacted year of
        1m-tier commits is millions of KB-files whose open/seek overhead
        dominates scans.

        Only partitions with more than ``max_files_per_partition`` files
        are touched; each is rewritten to ceil(bytes/target) files via
        dynamic partition overwrite, so readers never see a partial
        state and untouched partitions keep their files byte-identical.
        On Iceberg clusters use ``rewrite_data_files_sql`` (snapshot-
        isolated binpack) instead. Returns partitions rewritten."""
        if (b := self.iceberg) is not None:
            b.compact(name, target_bytes)
            return -1  # Iceberg reports via its own snapshot summary
        from pyspark.sql import functions as F

        stats = self.partition_file_stats(name)
        todo = {p: s for p, s in stats.items() if s[0] > max_files_per_partition}
        if not todo:
            return 0
        base = self.path(name)
        # hash-repartition on the partition cols sends each partition's
        # rows to exactly ONE task → one output file per partition; a
        # partition bigger than target_bytes additionally salts on a
        # content hash into ceil(bytes/target) files. One job for all
        # touched partitions — no driver loop over data.
        small = [p for p, (_, b) in todo.items() if b <= target_bytes]
        out = []
        if small:
            df = self.spark.read.option("basePath", base).parquet(
                *[os.path.join(base, p) for p in small]
            )
            out.append(df.repartition(len(small), *partition_by))
        for p, (_, b) in todo.items():
            if b <= target_bytes:
                continue
            k = -(-b // target_bytes)
            df = self.spark.read.option("basePath", base).parquet(
                os.path.join(base, p)
            )
            data_cols = [c for c in df.columns if c not in partition_by]
            salt = F.pmod(F.xxhash64(*data_cols), F.lit(int(k)))
            out.append(df.repartition(int(k), *partition_by, salt))
        merged = out[0]
        for o in out[1:]:
            merged = merged.unionByName(o)
        staged = f"{name}__compact_staged"
        self.write(merged, staged, partition_by=partition_by)
        self.overwrite_partitions(self.read(staged), name, partition_by)
        shutil.rmtree(self.path(staged), ignore_errors=True)
        return len(todo)

    def delete_where_partition(self, name: str, partition_col: str, values: list[str]) -> int:
        """Partition-level delete: Iceberg = metadata-only ``DELETE
        WHERE`` on the partition column; parquet fallback = drop
        matching partition directories. Returns units removed."""
        if (b := self.iceberg) is not None:
            return b.delete_where_partition(name, partition_col, values)
        base = self.path(name)
        removed = 0
        for v in values:
            p = os.path.join(base, f"{partition_col}={v}")
            if os.path.isdir(p):
                shutil.rmtree(p)
                removed += 1
        return removed

    def snapshot_id(self, name: str) -> str:
        """Deterministic fingerprint of (relative path, size) of all data
        files — changes iff the table data changes. Iceberg branch uses
        the real current snapshot id."""
        if (b := self.iceberg) is not None:
            return b.snapshot_id(name)
        base = self.path(name)
        h = hashlib.sha256()
        if not os.path.isdir(base):
            return "empty"
        for rel, size, _ in _listing(base):
            h.update(rel.encode())
            h.update(str(size).encode())
        return h.hexdigest()[:16]
