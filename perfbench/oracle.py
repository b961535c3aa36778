"""Independent reference answers, computed by DuckDB from the generated
pages parquet. Nothing here calls the package."""

from __future__ import annotations

import os

import duckdb

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "30d": 2_592_000}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _files(dirs) -> str:
    dirs = [dirs] if isinstance(dirs, str) else list(dirs)
    return "[" + ", ".join(f"'{os.path.join(d, '**', '*.parquet')}'" for d in dirs) + "]"


def _raw(pages) -> str:
    return (
        "(SELECT url, lang, epoch_us(warc_ts) // 1000000 AS sec, "
        "octet_length(html) AS hb, length(text) AS tl "
        f"FROM read_parquet({_files(pages)}))"
    )


def tier_mismatches(con, warehouse: str, pages) -> dict[str, int]:
    """Per tier: (url, lang, bucket) keys whose point_count, byte_size or
    text_len_sum differ from the pages, or that the tier holds twice."""
    out = {}
    for tier, w in TIER_SECONDS.items():
        tdir = os.path.join(warehouse, f"tier_{tier}")
        sql = f"""
        WITH want AS (
            SELECT url, lang, sec // {w} * {w} AS b, count(*) AS pc,
                   sum(hb)::BIGINT AS bs, sum(tl)::BIGINT AS ts
            FROM {_raw(pages)} GROUP BY ALL),
        got AS (
            SELECT url, lang, epoch_us(bucket_start) // 1000000 AS b, count(*) AS n,
                   sum(point_count)::BIGINT AS pc, sum(byte_size)::BIGINT AS bs,
                   sum(text_len_sum)::BIGINT AS ts
            FROM read_parquet({_files(tdir)}, hive_partitioning = true) GROUP BY ALL)
        SELECT count(*) FROM want FULL OUTER JOIN got USING (url, lang, b)
        WHERE got.n IS DISTINCT FROM 1 OR want.pc IS DISTINCT FROM got.pc
           OR want.bs IS DISTINCT FROM got.bs OR want.ts IS DISTINCT FROM got.ts
        """
        out[tier] = con.execute(sql).fetchone()[0]
    return out


def lang_totals(con, pages, e0: int, e1: int) -> dict[str, tuple[int, int]]:
    """{lang: (docs, html bytes)} of pages in [e0, e1)."""
    rows = con.execute(
        f"SELECT lang, count(*), sum(hb)::BIGINT FROM {_raw(pages)} "
        f"WHERE sec >= {e0} AND sec < {e1} GROUP BY lang"
    ).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def url_totals(con, pages, urls: list[str], e0: int, e1: int) -> dict[str, tuple[int, int]]:
    """{url: (docs, html bytes)} of ``urls`` in [e0, e1)."""
    rows = con.execute(
        f"SELECT url, count(*), sum(hb)::BIGINT FROM {_raw(pages)} "
        f"WHERE sec >= {e0} AND sec < {e1} AND url IN (SELECT unnest(?)) GROUP BY url",
        [urls],
    ).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def topk_bytes(con, pages, k: int) -> list[tuple[str, int]]:
    return [tuple(r) for r in con.execute(
        f"SELECT url, sum(hb)::BIGINT AS bs FROM {_raw(pages)} "
        f"GROUP BY url ORDER BY bs DESC, url LIMIT {int(k)}"
    ).fetchall()]


def recent_hourly(con, pages, span: int, k: int) -> list[tuple[str, int, int]]:
    """(url, last hour bucket, docs) of urls seen in the ``span`` seconds
    before the newest hour bucket, newest first."""
    return [tuple(r) for r in con.execute(
        f"""WITH h AS (SELECT url, sec // 3600 * 3600 AS b FROM {_raw(pages)})
        SELECT url, max(b) AS last_seen, count(*) AS points FROM h
        WHERE b > (SELECT max(b) FROM h) - {int(span)}
        GROUP BY url ORDER BY last_seen DESC, points DESC, url LIMIT {int(k)}"""
    ).fetchall()]


def history(con, pages, url: str, e0: int, e1: int) -> list[tuple[int, int]]:
    """(bucket epoch, docs) of one url in [e0, e1): every hour bucket, plus
    each day bucket whose start has no hour bucket of its own — the hot
    1h tier wins over the cold 1d blobs wherever both hold a bucket."""
    sql = f"""
    WITH r AS (SELECT sec FROM {_raw(pages)} WHERE url = ?),
    hot AS (SELECT sec // 3600 * 3600 AS b, count(*) AS v FROM r GROUP BY 1),
    cold AS (SELECT sec // 86400 * 86400 AS b, count(*) AS v FROM r GROUP BY 1)
    SELECT b, v FROM (
        SELECT b, v FROM hot
        UNION ALL
        SELECT b, v FROM cold WHERE b NOT IN (SELECT b FROM hot))
    WHERE b >= {e0} AND b < {e1} ORDER BY b"""
    return [tuple(r) for r in con.execute(sql, [url]).fetchall()]


def url_docs(con, pages) -> list[tuple[str, int]]:
    """(url, docs) of every url of the pages, by url."""
    return [tuple(r) for r in con.execute(
        f"SELECT url, count(*) FROM read_parquet({_files(pages)}) GROUP BY url ORDER BY url"
    ).fetchall()]


def cold_bytes_per_point(con, warehouse: str) -> float:
    """Encoded blob bytes per stored point of the cold tier."""
    blob, pts = con.execute(
        f"SELECT sum(blob_bytes), sum(n_points) FROM read_parquet("
        f"{_files(os.path.join(warehouse, 'cold_1d'))}, hive_partitioning = true)"
    ).fetchone()
    return blob / pts if pts else 0.0
