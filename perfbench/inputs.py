"""Seeded inputs: corpus shapes and the dashboard request sequence.

Everything here is a pure function of the seed, so the same seed gives
the same pages and the same requests on every run. The pages themselves
come from the package's own generator (``synth.generate_pages``); this
module fixes its arguments. Requests draw their urls from the urls of
the pages, each as likely as it has docs, so hot urls are asked for
most and every url asked for has data: a url drawn from the
generator's own law often has none (5 of 12 draws checked), and a
history request for such a url skipped the cold decode and ran in
about 60% of the time, so runs swung with how many draws missed.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

# corpus: the warehouse every workload builds or starts from
T0 = dt.datetime(2024, 1, 1)
CORPUS_DAYS = 7
DAY = 86400
T0_EPOCH = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
T_END_EPOCH = T0_EPOCH + CORPUS_DAYS * DAY

# dashboard panels, in refresh order
PANELS = ("range", "chart", "quantile", "history", "topk", "recent", "gapfill")
# panels checked against a result recorded at set-up draw their request
# from a pool of this many variants; the warm-up refreshes run each
# variant in turn and record its answer
RECORDED = ("chart", "quantile", "gapfill")
POOL = 1


def day_str(epoch: int) -> str:
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def pages_args(seed: int, day: int | None = None) -> dict:
    """generate_pages keyword arguments: the whole corpus (``day`` None)
    or one extra day after it. Each extra day gets its own seed, so its
    docs differ from every other day's while sharing the url universe."""
    if day is None:
        return dict(seed=seed, t0=day_str(T0_EPOCH), t1=day_str(T_END_EPOCH))
    e0 = T0_EPOCH + day * DAY
    return dict(seed=seed * 1000 + day, t0=day_str(e0), t1=day_str(e0 + DAY))


def draw_urls(rng: np.random.Generator, urls: list[tuple[str, int]], n: int) -> list[str]:
    """``n`` distinct urls of ``urls`` ((url, docs) pairs), each as
    likely as it has docs."""
    w = np.array([docs for _, docs in urls], dtype=np.float64)
    return [urls[i][0] for i in rng.choice(len(urls), size=n, replace=False, p=w / w.sum())]


def _ragged(rng: np.random.Generator, align: int) -> tuple[int, int]:
    """A multi-day range that starts within the first two days and ends
    within the last two, both edges aligned to ``align`` seconds."""
    lo = T0_EPOCH + int(rng.integers(0, 2 * DAY // align)) * align
    hi = T_END_EPOCH - int(rng.integers(0, 2 * DAY // align)) * align
    return lo, hi


def _variant(seed: int, urls: list[tuple[str, int]], panel: str, v: int) -> dict:
    rng = np.random.default_rng([seed, PANELS.index(panel), v, 7])
    if panel == "chart":
        e0, e1 = _ragged(rng, 3600)
        return dict(e0=e0, e1=e1, grain="1h", n_out=48)
    if panel == "quantile":
        e0, e1 = _ragged(rng, 60)
        return dict(e0=e0, e1=e1, q=int(rng.choice([50, 90, 99])))
    if panel == "gapfill":
        e0, _ = _ragged(rng, 3600)
        return dict(urls=draw_urls(rng, urls, 3), range_start=e0)
    raise ValueError(panel)


def refresh(seed: int, urls: list[tuple[str, int]], i: int) -> dict:
    """Requests of the ``i``-th dashboard refresh over a warehouse built
    from pages holding ``urls`` ((url, docs) pairs, in a fixed order).
    Negative ``i``: the warm-up refreshes, which walk the recorded
    variants in turn."""
    rng = np.random.default_rng([seed, i + 1_000_000])
    e0, e1 = _ragged(rng, 60)
    h0, h1 = _ragged(rng, 3600)
    req = {
        "range": dict(urls=draw_urls(rng, urls, 4), e0=e0, e1=e1),
        "history": dict(url=draw_urls(rng, urls, 1)[0], e0=h0, e1=h1),
        "topk": dict(k=20),
        "recent": dict(span=DAY, k=50),
    }
    for p in RECORDED:
        v = (-i - 1) % POOL if i < 0 else int(rng.integers(0, POOL))
        req[p] = dict(_variant(seed, urls, p, v), variant=v)
    return {p: req[p] for p in PANELS}
