"""TableStore semantics: snapshot ids, dynamic partition overwrite."""

from __future__ import annotations

from chainalytic_framework_spark.tables import TableStore


def test_snapshot_id_tracks_data(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    assert store.snapshot_id("t") == "empty"
    df = spark.range(10).selectExpr("id", "id % 3 as p")
    store.write(df, "t", partition_by=["p"])
    s1 = store.snapshot_id("t")
    assert s1 != "empty"
    assert store.snapshot_id("t") == s1  # stable
    store.write(spark.range(20).selectExpr("id", "id % 3 as p"), "t", partition_by=["p"])
    assert store.snapshot_id("t") != s1  # changes with data


def test_dynamic_overwrite_touches_only_written_partitions(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(10).selectExpr("id", "cast(id % 2 as string) as p")
    store.write(df, "t", partition_by=["p"])
    patch = spark.range(100, 103).selectExpr("id", "'0' as p")
    store.overwrite_partitions(patch, "t", ["p"])
    out = store.read("t")
    assert out.where("p = '0'").count() == 3      # replaced
    assert out.where("p = '1'").count() == 5      # untouched


def test_delete_where_partition(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(10).selectExpr("id", "cast(id % 2 as string) as p")
    store.write(df, "t", partition_by=["p"])
    removed = store.delete_where_partition("t", "p", ["0", "nonexistent"])
    assert removed == 1
    assert store.read("t").where("p = '0'").count() == 0


def test_merge_upsert_sequence_equals_last_wins(spark, tmp_path):
    """N sequential merge_upserts must leave exactly the last-written row
    per key, regardless of which buckets each delta touched."""
    import random

    from pyspark.sql import functions as F

    from chainalytic_framework_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    rng = random.Random(7)
    expected: dict[str, int] = {}
    for round_no in range(4):
        keys = rng.sample([f"u{i}" for i in range(40)], k=rng.randint(5, 15))
        rows = [(k, round_no * 1000 + i) for i, k in enumerate(keys)]
        for k, v in rows:
            expected[k] = v
        delta = spark.createDataFrame(rows, "url string, val long").select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            "val",
            F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("state_bucket"),
        )
        store.merge_upsert(delta, "seq_state", key="url", partition_col="state_bucket")

    got = {r["url"]: r["val"] for r in store.read("seq_state").collect()}
    assert got == expected


class _FakeWriterV2:
    def __init__(self, log, table):
        self.log, self.table, self.fmt, self.parts = log, table, None, None

    def using(self, fmt):
        self.fmt = fmt
        return self

    def partitionedBy(self, *cols):
        self.parts = [str(c) for c in cols]
        return self

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table, self.fmt, self.parts))

    def append(self):
        self.log.append(("appendTo", self.table))

    def overwritePartitions(self):
        self.log.append(("overwritePartitions", self.table))


class _FakeDF:
    """Records writerV2 chains; every transform returns itself. Has NO
    `.write` attribute on purpose — if any Iceberg-mode branch fell
    back to a parquet path write, the test dies with AttributeError."""

    def __init__(self, log, columns=("url", "url_hash", "val", "state_bucket")):
        self.log, self.columns = log, list(columns)

    def writeTo(self, table):
        return _FakeWriterV2(self.log, table)

    def isEmpty(self):
        return False

    def createOrReplaceTempView(self, name):
        self.log.append(("view", name))

    def _chain(self, *a, **k):
        return self

    select = distinct = join = unionByName = _chain
    repartition = sortWithinPartitions = where = _chain


class _FakeConf:
    def __init__(self, values):
        self.values = values

    def get(self, key, default=None):
        return self.values.get(key, default)


class _FakeSqlResult:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeSpark:
    """Just enough SparkSession surface to drive the Iceberg branch."""

    def __init__(self, existing=(), sql_rows=()):
        self.log = []
        self.conf = _FakeConf(
            {"spark.sql.catalog.rollup": "org.apache.iceberg.spark.SparkCatalog"}
        )
        self._existing = set(existing)
        self._sql_rows = list(sql_rows)
        fake = self

        class _Catalog:
            def tableExists(self, q):
                return q in fake._existing

        class _Reader:
            def __init__(self):
                self._opts = {}

            def option(self, k, v):
                self._opts[k] = v
                return self

            def table(self, q):
                fake.log.append(("read.table", q, dict(self._opts)))
                self._opts = {}
                return _FakeDF(fake.log)

        class _SC:
            defaultParallelism = 8

        self.catalog, self.read, self.sparkContext = _Catalog(), _Reader(), _SC()

    def sql(self, q):
        self.log.append(("sql", q))
        return _FakeSqlResult(self._sql_rows)


def test_iceberg_store_read_write_append_resolve_to_catalog():
    """With the catalog configured, EVERY core op must target
    rollup.<ns>.<name> — no parquet paths on any branch (VERDICT r2 #1:
    the adapter was split-brained between MERGE-to-Iceberg and
    everything-else-to-parquet)."""
    fs = _FakeSpark(existing={"rollup.rollup.t_existing"})
    store = TableStore(fs, "/nonexistent")

    store.read("t")
    assert ("read.table", "rollup.rollup.t", {}) in fs.log

    store.read_as_of("t", "12345")
    assert ("read.table", "rollup.rollup.t", {"snapshot-id": "12345"}) in fs.log

    df = _FakeDF(fs.log)
    store.write(df, "t", partition_by=["bucket_day"])
    assert ("createOrReplace", "rollup.rollup.t", "iceberg", ["Column<'bucket_day'>"]) in fs.log

    store.append(df, "t_existing")
    assert ("appendTo", "rollup.rollup.t_existing") in fs.log

    # append to a missing table creates it
    store.append(df, "t_new")
    assert any(op[0] == "createOrReplace" and op[1] == "rollup.rollup.t_new" for op in fs.log)

    assert store.exists("t_existing") and not store.exists("t_missing")


def test_iceberg_overwrite_partitions_branches():
    fs = _FakeSpark(existing={"rollup.rollup.tier_1m"})
    store = TableStore(fs, "/nonexistent")
    df = _FakeDF(fs.log)
    store.overwrite_partitions(df, "tier_1m", ["bucket_day"])
    assert ("overwritePartitions", "rollup.rollup.tier_1m") in fs.log
    store.overwrite_partitions(df, "tier_new", ["bucket_day"])
    assert any(op[0] == "createOrReplace" and op[1] == "rollup.rollup.tier_new" for op in fs.log)


def test_iceberg_merge_upsert_single_row_issues_merge_into():
    fs = _FakeSpark(existing={"rollup.rollup.fold_state"})
    store = TableStore(fs, "/nonexistent")
    delta = _FakeDF(fs.log, columns=["url", "url_hash", "val", "state_bucket"])
    store.merge_upsert(delta, "fold_state", key="url", partition_col="state_bucket")
    assert ("view", "_merge_src_fold_state") in fs.log
    sqls = [q for op, q in fs.log if op == "sql"]
    assert len(sqls) == 1 and sqls[0].startswith(
        "MERGE INTO rollup.rollup.fold_state t USING _merge_src_fold_state s ON t.url = s.url"
    )


def test_iceberg_merge_upsert_multirow_overwrites_partitions_no_staging():
    """The multi-row restatement path (targeted backfill) must commit
    via overwritePartitions on the CATALOG table — round 2 silently
    took the parquet branch here (the split-brain bug)."""
    fs = _FakeSpark(existing={"rollup.rollup.fold_events"})
    store = TableStore(fs, "/nonexistent")
    delta = _FakeDF(fs.log, columns=["url", "url_hash", "val", "state_bucket"])
    store.merge_upsert(
        delta, "fold_events", key="url", partition_col="state_bucket",
        single_row_per_key=False,
    )
    assert ("overwritePartitions", "rollup.rollup.fold_events") in fs.log
    assert not any(op[0] == "sql" for op in fs.log)  # no MERGE on this path
    assert not any("__staged" in str(op) for op in fs.log)


def test_iceberg_delete_and_snapshot_and_stats():
    fs = _FakeSpark(existing={"rollup.rollup.t"}, sql_rows=[(4242,)])
    store = TableStore(fs, "/nonexistent")
    n = store.delete_where_partition("t", "bucket_day", ["2026-01-01", "2026-01-02"])
    assert n == 2
    assert ("sql", "DELETE FROM rollup.rollup.t WHERE bucket_day IN "
            "('2026-01-01', '2026-01-02')") in fs.log
    assert store.snapshot_id("t") == "4242"
    assert store.snapshot_id("t_missing") == "empty"

    fs2 = _FakeSpark(existing={"rollup.rollup.t"},
                     sql_rows=[{"p": "{bucket_day=2026-01-01}", "n": 3, "b": 999}])
    store2 = TableStore(fs2, "/nonexistent")
    assert store2.partition_file_stats("t") == {"{bucket_day=2026-01-01}": (3, 999)}
    assert any(".files" in q for op, q in fs2.log if op == "sql")


def test_delete_where_sql_quotes_values():
    from chainalytic_framework_spark.tables import delete_where_sql

    assert delete_where_sql("c.n.t", "d", ["a'b"]) == "DELETE FROM c.n.t WHERE d IN ('a''b')"


def test_merge_into_sql_shape():
    from chainalytic_framework_spark.tables import merge_into_sql

    sql = merge_into_sql(
        "rollup.ns.fold_state", "_src", "url",
        ["url", "url_hash", "last_ts", "content_rev"],
    )
    assert sql == (
        "MERGE INTO rollup.ns.fold_state t "
        "USING _src s ON t.url = s.url "
        "WHEN MATCHED THEN UPDATE SET t.url_hash = s.url_hash, "
        "t.last_ts = s.last_ts, t.content_rev = s.content_rev "
        "WHEN NOT MATCHED THEN INSERT (url, url_hash, last_ts, content_rev) "
        "VALUES (s.url, s.url_hash, s.last_ts, s.content_rev)"
    )


def test_parquet_read_as_of_only_current(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write(spark.range(5).selectExpr("id", "id % 2 as p"), "t", partition_by=["p"])
    snap = store.snapshot_id("t")
    assert store.read_as_of("t", snap).count() == 5
    import pytest as _p

    with _p.raises(ValueError, match="current snapshot"):
        store.read_as_of("t", "deadbeef")


def _jobs_submitted(spark, fn):
    """Spark job ids ``fn`` submits from this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


def test_read_of_unchanged_table_reuses_its_handle(spark, tmp_path):
    TableStore(spark, str(tmp_path)).write(
        spark.range(12).selectExpr("id", "id % 3 as p"), "t", partition_by=["p"]
    )
    opened, first = _jobs_submitted(spark, lambda: TableStore(spark, str(tmp_path)).read("t"))
    assert opened, "opening a parquet table infers its schema with a job"
    # a new store instance, as a serving request makes one
    jobs, again = _jobs_submitted(spark, lambda: TableStore(spark, str(tmp_path)).read("t"))
    assert jobs == []
    assert again._jdf.equals(first._jdf)
    assert sorted(r["id"] for r in again.collect()) == list(range(12))


def test_read_after_each_write_sees_the_new_files(spark, tmp_path):
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))

    def ids(name):
        return sorted(r["id"] for r in store.read(name).collect())

    store.write(spark.range(10).selectExpr("id", "id % 2 as p"), "t", partition_by=["p"])
    assert ids("t") == list(range(10))
    store.overwrite_partitions(spark.range(100, 103).selectExpr("id", "0 as p"), "t", ["p"])
    assert ids("t") == [1, 3, 5, 7, 9, 100, 101, 102]
    store.delete_where_partition("t", "p", ["1"])
    assert ids("t") == [100, 101, 102]

    def state(rows):
        return spark.createDataFrame(rows, "url string, id long").withColumn(
            "state_bucket", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
        )

    store.merge_upsert(state([("a", 1), ("b", 2)]), "s", key="url")
    assert ids("s") == [1, 2]
    store.merge_upsert(state([("b", 20), ("c", 3)]), "s", key="url")
    assert ids("s") == [1, 3, 20]

    store.write(
        spark.range(40, numPartitions=8).selectExpr("id", "id % 2 as p"), "c", partition_by=["p"]
    )
    before = store.read("c")
    assert store.compact_partitions("c", ["p"], max_files_per_partition=1) == 2
    # same rows, new files: the old handle's files are gone
    after = store.read("c")
    assert not after._jdf.equals(before._jdf)
    assert ids("c") == list(range(40))


def test_open_tables_are_bounded_least_recently_used_first(spark, tmp_path, monkeypatch):
    from chainalytic_framework_spark import tables

    monkeypatch.setattr(tables, "MAX_OPEN_TABLES", 2)
    store = TableStore(spark, str(tmp_path))
    for n in ("a", "b", "c"):
        store.write(spark.range(3).selectExpr("id", "id as p"), n, partition_by=["p"])
    a = store.read("a")
    store.read("b")
    assert store.read("a")._jdf.equals(a._jdf)  # a is now the most recent
    store.read("c")  # evicts b
    open_paths = [p for p in tables._HANDLES[spark] if p.startswith(str(tmp_path))]
    assert open_paths == [store.path("a"), store.path("c")]
    assert len(tables._HANDLES[spark]) <= 2
    jobs, _ = _jobs_submitted(spark, lambda: store.read("b"))
    assert jobs, "an evicted table is opened again"


STOPPED_SESSION_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from chainalytic_framework_spark.session import build_session
from chainalytic_framework_spark.tables import TableStore

root = sys.argv[2]
s1 = build_session(app_name="handles-1", master="local[1]", shuffle_partitions=1)
TableStore(s1, root).write(s1.range(7).selectExpr("id", "id % 2 as p"), "t", partition_by=["p"])
old = TableStore(s1, root).read("t")
s1.stop()
s2 = build_session(app_name="handles-2", master="local[1]", shuffle_partitions=1)
new = TableStore(s2, root).read("t")
print("RESULT", new.sparkSession is s2, s2 is not s1, new.count())
s2.stop()
"""


def test_session_built_after_stop_gets_no_old_handle(tmp_path):
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", STOPPED_SESSION_SCRIPT, repo, str(tmp_path)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    assert lines, out.stderr[-2000:]
    # a handle of the stopped session would fail to count
    assert lines[0] == "RESULT True True 7"
