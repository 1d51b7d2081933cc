"""Seeded inputs and reference answers for the benchmark workloads.

Every input table is a pure function of the workload seed: the link graph
comes from ``sources.synth.GraphParams(seed=<seed>)`` and is written once
to parquet under the run's work directory (generation stands in for tables
that already exist and is not part of set-up).  The engine only ever sees
the materialized tables.

References come from code that shares no operator with the engine: the
in-memory scheduled crawlers in ``oracle/crawler.py`` for the crawls, and a
pure-Python recomputation from the repo's URL and hash helpers for the
frontier schedule.  Each is computed once per seed during set-up and kept
for every sample of the run.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context
from pathlib import Path

import numpy as np
import pandas as pd

from crawl4ai_spark.functions.canonical import normalize_url_for_deep_crawl
from crawl4ai_spark.hashing import SPARK_XXHASH_SEED, xxh64_signed
from crawl4ai_spark.oracle.crawler import (
    OracleGraph,
    ScheduleSpec,
    crawl_bfs_scheduled,
)
from crawl4ai_spark.sources import synth

RESULT_KEY = ("superstep", "seq", "url", "depth", "parent", "success",
              "status_code", "attempt")


def graph_params(seed: int, n_pages: int) -> synth.GraphParams:
    return synth.GraphParams(n_pages=n_pages, n_domains=max(16, n_pages // 5000),
                             hot_fraction=0.3, seed=seed)


def crawl_seeds(p: synth.GraphParams, n_seeds: int) -> list[str]:
    """``n_seeds`` crawl start URLs, evenly spaced over the page ids."""
    return [synth.url_of(i, p) for i in range(0, p.n_pages, p.n_pages // n_seeds)]


def _graph_chunk(task: tuple[synth.GraphParams, int, int, Path, bool]):
    p, lo, hi, out, canon = task
    ids = np.arange(lo, hi)
    pages = synth.gen_pages_batch(ids, p)[["url", "success", "status_code", "image_id"]]
    links = synth.gen_links_batch(ids, p)
    pages.to_parquet(out / "pages.parquet" / f"part-{lo:08d}.parquet", index=False)
    links.to_parquet(out / "links.parquet" / f"part-{lo:08d}.parquet", index=False)
    return pages, links, (canonical_keys(links) if canon else None)


def materialize_graph(p: synth.GraphParams, out: Path, canon: bool = False):
    """Generate the pages and links tables of ``p`` (the same rows as
    ``synth.synth_tables``) in one process per CPU, each writing its
    chunk under ``out`` as parquet.  Returns (pages, links, keys): the
    tables as pandas frames, and with ``canon`` the reference's canonical
    key of every link (``canonical_keys``), computed chunk by chunk in the
    same processes.

    Call this before the SparkSession starts: the pool forks, which is safe
    only while the process has no other threads."""
    for name in ("pages", "links"):
        (out / f"{name}.parquet").mkdir(parents=True)
    n = p.n_pages
    workers = len(os.sched_getaffinity(0))
    bounds = [n * k // workers for k in range(workers + 1)]
    tasks = [(p, lo, hi, out, canon) for lo, hi in zip(bounds, bounds[1:])]
    with ProcessPoolExecutor(workers, mp_context=get_context("fork")) as pool:
        chunks = list(pool.map(_graph_chunk, tasks))
    keys = {}
    if canon:
        for c in chunks:
            for h, u in c[2].items():
                keys.setdefault(h, u)
    return (pd.concat([c[0] for c in chunks], ignore_index=True),
            pd.concat([c[1] for c in chunks], ignore_index=True), keys)


def read_graph(spark, out: Path):
    """(pages, links) DataFrames over the materialized parquet."""
    return (spark.read.parquet(str(out / "pages.parquet")),
            spark.read.parquet(str(out / "links.parquet")))


# ------------------------------------------------------------------ crawls

@dataclass
class CrawlReference:
    rows: list[tuple]          # RESULT_KEY tuples in engine result order
    seen: set[str]
    pages_crawled: int
    links_discovered: int      # raw internal links fed to discovery
    graph: OracleGraph
    results: list[dict]        # the oracle's full result dicts


def crawl_reference(pages_pdf: pd.DataFrame, links_pdf: pd.DataFrame,
                    seeds: list[str], spec: ScheduleSpec,
                    robots_pdf=None) -> CrawlReference:
    graph = OracleGraph.from_frames(pages_pdf, links_pdf)
    results, seen = crawl_bfs_scheduled(graph, seeds, spec, robots_pdf=robots_pdf)
    return CrawlReference(
        rows=[tuple(r[k] for k in RESULT_KEY) for r in results],
        seen=seen,
        pages_crawled=sum(1 for r in results if r["success"]),
        links_discovered=sum(
            len(discovery_links(graph, r))
            for r in results if r["success"] and r["depth"] < spec.max_depth
        ),
        graph=graph,
        results=results,
    )


def discovery_links(graph: OracleGraph, row: dict) -> list[tuple[int, str]]:
    """(pos, raw href) of the internal links the engine's discovery joins
    for one fetched result row."""
    page = graph.fetch(row["url"])
    return [(pos, href) for pos, (href, internal) in enumerate(page.links)
            if internal]


def first_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a description of the first differing row."""
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: engine {g} != reference {w}"
    if len(got) != len(want):
        i = min(len(got), len(want))
        extra = got[i] if len(got) > len(want) else want[i]
        return (f"row {i}: engine has {len(got)} rows, reference {len(want)}"
                f" (first unmatched {extra})")
    return None


# --------------------------------------------------------------- schedule

_PID = re.compile(r"p(\d{8})")
_HOST = re.compile(r"://([^/]+)")


def _seen_page(url: str) -> bool:
    """The frontier workload pre-seeds every even page id as seen."""
    m = _PID.search(url)
    return m is not None and int(m.group(1)) % 2 == 0


def _url_hash(url: str | None) -> int:
    # Spark's xxhash64 of a NULL column is its seed
    return SPARK_XXHASH_SEED if url is None else xxh64_signed(url)


@dataclass
class ScheduleReference:
    hashes: set[int]           # scheduled url_hash set
    host_counts: Counter       # scheduled rows per host
    n_links: int
    n_pages: int


def canonical_keys(links_pdf: pd.DataFrame) -> dict[int, str | None]:
    """xxhash64 key → canonical URL of every raw link, canonicalized
    against its source page."""
    keys: dict[int, str | None] = {}
    for href, src in zip(links_pdf["href"].tolist(), links_pdf["src_url"].tolist()):
        u = normalize_url_for_deep_crawl(href, src)
        keys.setdefault(_url_hash(u), u)
    return keys


def schedule_reference(pages_pdf: pd.DataFrame, links_pdf: pd.DataFrame,
                       canon: dict[int, str | None]) -> ScheduleReference:
    """Pure-Python twin of the frontier superstep over the links' canonical
    keys (``canonical_keys``): one row per key, keys of pre-seen pages
    dropped, the survivors counted per host."""
    seen = {_url_hash(u) for u in pages_pdf["url"].tolist() if _seen_page(u)}
    fresh = {h: u for h, u in canon.items() if h not in seen}
    hosts = Counter()
    for u in fresh.values():
        m = _HOST.search(u or "")
        hosts[m.group(1).lower() if m else ""] += 1
    return ScheduleReference(set(fresh), hosts, len(links_pdf),
                             int(links_pdf["src_url"].nunique()))


def check_schedule(out: pd.DataFrame, ref: ScheduleReference,
                   hot_hosts: list[str], salt_buckets: int) -> str | None:
    """None when the engine's scheduled rows (url_hash, host, host_rank)
    match the reference, else the first difference found."""
    got = set(out["url_hash"].tolist())
    if len(got) != len(out):
        return f"{len(out) - len(got)} duplicate url_hash rows scheduled"
    if got != ref.hashes:
        missing = sorted(ref.hashes - got)[:1]
        extra = sorted(got - ref.hashes)[:1]
        return (f"url_hash set differs: {len(ref.hashes - got)} missing "
                f"(first {missing}), {len(got - ref.hashes)} extra (first {extra})")
    hot = set(hot_hosts)
    for host, g in out.groupby("host", sort=True):
        want = ref.host_counts.get(host, 0)
        if len(g) != want:
            return f"host {host!r}: {len(g)} scheduled rows, reference {want}"
        ranks = sorted(g["host_rank"].tolist())
        if host in hot:
            if len(set(ranks)) != len(ranks) or max(ranks) >= len(ranks) * salt_buckets:
                return f"hot host {host!r}: salted ranks collide or overflow"
        elif ranks != list(range(len(ranks))):
            return f"host {host!r}: ranks are not 0..{len(ranks) - 1}"
    return None
