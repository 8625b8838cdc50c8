"""Seeded synthetic web for the crawl workload, plus its golden crawl.

The web has the shape of ``sources.synthweb.scale_web_df``: pages on
``N_HOSTS`` hosts with ``SKEW_SHARE`` of them on the mega-host ``host0``
and ``links_per_page`` absolute links per page, whose text carries the
links as ``<a href>`` markup inside filler prose. It is drawn with
numpy from the workload seed (host assignment, link targets and seed
list all change with ``--seed``) and handed to the engine as DataFrames
only.

The golden crawl is the n=1 FIFO semantics of ``golden.py`` specialised
to this web (every link is absolute and valid, every page answers 200),
and with a politeness cap the engine's wave schedule is simulated
exactly.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

N_HOSTS = 64
SKEW_SHARE = 0.25  # share of the pages on the mega-host


@dataclass
class WebSpec:
    n_pages: int
    links_per_page: int
    seed_share: float               # share of the pages on the seed list
    filler_words: int               # prose words on each side of the anchors


@dataclass
class Web:
    """The engine's inputs and the link table the golden crawl walks."""

    index: object          # DataFrame (url, doc_id, status, fail_times)
    docs: object           # DataFrame (doc_id, spans)
    seeds: object          # DataFrame in the engine's frontier shape
    base_url: str
    urls: np.ndarray       # page id -> url
    targets: np.ndarray    # (n_pages, links_per_page) link targets
    hosts: np.ndarray      # page id -> host number
    start: list[int]       # base seed, then the seed list in key order


def draw(spec: WebSpec, seed: int) -> dict:
    """The web as numpy arrays; page 0 is the crawl's base URL."""
    rng = np.random.default_rng([seed, spec.n_pages])
    n, width = spec.n_pages, spec.links_per_page
    hosts = np.where(rng.random(n) < SKEW_SHARE, 0, rng.integers(1, N_HOSTS, n))
    on_list = rng.random(n) < spec.seed_share
    on_list[0] = True  # the base seed
    targets = rng.integers(0, n, (n, width))
    urls = np.array([f"https://host{h}.bench/p{i}" for i, h in enumerate(hosts)], dtype=object)
    words = rng.integers(0, 99991, (n, 2 * spec.filler_words))
    return {
        "hosts": hosts, "targets": targets, "urls": urls, "words": words,
        "start": [0] + [int(i) for i in np.flatnonzero(on_list) if i != 0],
    }


def _text(w: dict, i: int, half: int) -> str:
    words = [f"w{x}" for x in w["words"][i]]
    anchors = " ".join(f'some text <a href="{w["urls"][t]}"> anchor' for t in w["targets"][i])
    return " ".join(words[:half] + [anchors] + words[half:])


def build_web(spark, spec: WebSpec, seed: int) -> Web:
    """Draw the web and materialize the engine's input DataFrames."""
    import pandas as pd
    from pyspark.sql import functions as F

    w = draw(spec, seed)
    pages = pd.DataFrame({
        "url": w["urls"],
        "doc_id": [f"doc{i}" for i in range(spec.n_pages)],
        "text": [_text(w, i, spec.filler_words) for i in range(spec.n_pages)],
    })
    pages_df = spark.createDataFrame(pages, "url string, doc_id string, text string")
    docs = pages_df.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"), F.col("text"),
                F.lit("").alias("media_ref"), F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    ).localCheckpoint(eager=True)
    index = pages_df.select(
        "url", "doc_id", F.lit(200).alias("status"), F.lit(0).alias("fail_times")
    ).localCheckpoint(eager=True)
    # seed rows sort after the engine's base seed (-2, 0, 0) by page id
    listed = np.asarray(w["start"][1:], dtype=np.int64)
    seeds = spark.createDataFrame(
        pd.DataFrame({
            "url": w["urls"][listed],
            "host": [f"host{h}.bench" for h in w["hosts"][listed]],
            "span_offset": listed.astype(np.int32),
        }),
        "url string, host string, span_offset int",
    ).select(
        "url", "host", F.lit(0).alias("depth"), F.lit(-1).cast("long").alias("parent_rank"),
        "span_offset", F.lit(0).alias("link_pos"),
        F.lit(False).alias("should_fetch"), F.lit(0).alias("retry_count"),
    ).localCheckpoint(eager=True)
    return Web(index, docs, seeds, w["urls"][0], w["urls"], w["targets"], w["hosts"], w["start"])


def crawl_waves(
    web: Web, cap: int | None = None, max_waves: int | None = None
) -> tuple[list[np.ndarray], np.ndarray]:
    """The page ids the engine must fetch, one array per wave in fetch
    order, and the seen mask when the crawl stops.

    Each wave sorts the frontier by the enqueue key (parent_rank,
    span_offset, link_pos): the base seed is (-2, 0, 0), a seed-list
    page p is (-1, p, 0) and a link at position k of the page fetched
    with rank r is (r, 0, k). With ``cap`` only the first ``cap`` rows of
    each host are fetched and the rest wait for the next wave with
    their keys. A fetched page enqueues each link target not seen
    before, first encounter (lowest key) wins. With no cap this is the
    FIFO breadth-first order."""
    targets, hosts, start = web.targets, web.hosts, web.start
    width = targets.shape[1]
    seen = np.zeros(targets.shape[0], dtype=bool)
    seen[start] = True
    pages = np.asarray(start, dtype=np.int64)
    keys = np.zeros((len(start), 3), dtype=np.int64)
    keys[:, 0] = -1
    keys[0, 0] = -2
    keys[1:, 1] = pages[1:]
    rank = 0
    fetched: list[np.ndarray] = []
    while pages.size and (max_waves is None or len(fetched) < max_waves):
        o = np.lexsort((keys[:, 2], keys[:, 1], keys[:, 0]))
        pages, keys = pages[o], keys[o]
        take = np.ones(pages.size, dtype=bool)
        if cap is not None:
            h = hosts[pages]
            by_host = np.argsort(h, kind="stable")
            hs = h[by_host]
            first = np.r_[0, np.flatnonzero(hs[1:] != hs[:-1]) + 1]
            runs = np.diff(np.r_[first, hs.size])
            take[by_host] = np.arange(hs.size) - np.repeat(first, runs) < cap
        batch = pages[take]
        fetched.append(batch)
        links = targets[batch].ravel()  # rank-major, link position minor
        uniq, pos = np.unique(links, return_index=True)
        fresh = ~seen[uniq]
        uniq, pos = uniq[fresh], pos[fresh]
        seen[uniq] = True
        new_keys = np.zeros((uniq.size, 3), dtype=np.int64)
        new_keys[:, 0] = rank + pos // width
        new_keys[:, 2] = pos % width
        rank += batch.size
        pages = np.concatenate([pages[~take], uniq])
        keys = np.concatenate([keys[~take], new_keys])
    return fetched, seen


def digest(urls) -> str:
    h = hashlib.sha256()
    for u in urls:
        h.update(u.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
