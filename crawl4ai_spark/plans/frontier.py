"""The deep-crawl engine: one superstep loop, three pop policies.

Every reference traversal (SURVEY §2.5) runs through the same driver-side
loop, as the reference strategies share deep_crawling/base_strategy.py.
Each superstep is ONE declarative DataFrame DAG: pop → per-host budget
split → mark seen → fetch → append results → backoff fold → link
discovery → next frontier.  Strategies differ only in how a superstep
pops rows off the frontier (``_PopPolicy``, chosen from
``CrawlConfig.strategy``):

  level (bfs, bfs_strategy.py:141-187) — every eligible row; a superstep
        is one BFS level plus whatever politeness deferred into it.
  heap  (best_first, bff_strategy.py:127-199) — the first ``batch_size``
        rows in (score, depth, url, parent, push order), 10 in parity mode
        and millions at scale; discovery pushes RAW hrefs (a faithful
        reference quirk) under a page budget that counts successes as they
        land.
  stack (dfs_batched; dfs = the same pop with batch 1,
        dfs_strategy.py:15-62) — the deepest ``batch_size`` stack entries;
        children are pushed reversed, so the first-discovered pops next.

Whether a crawl keeps fetching after ``max_pages`` is reached is a fixed
property of each policy: the reference BFS and DFS loops have no budget
check at pop and drain what they queued, best-first stops (bff :146-149)
and so does dfs_batched.  Strict DFS therefore is NOT dfs_batched with
batch 1 once the budget binds.

Link discovery (bfs_strategy.py:68-139 / bff_strategy.py:76-125) is the
same dataflow for every policy:

  explode links → canonicalize (Arrow UDF; level and stack only) →
  validity + filter chain (Catalyst conjunction on the absolute href) →
  score (Catalyst) → anti-join seen → per-parent capacity truncation
  (windows reproducing the reference's conditional sort-then-truncate) →
  dense global sequence.

Scale notes (the 100 TB design):
  - every per-superstep global ordering uses ``with_global_seq`` (range
    partition + offset assign), never a single-partition window;
  - the seen table is append-only and anti-joined on the canonical URL
    (hash-partitioned); a Bloom or cuckoo sidecar (operators/seen.py)
    lets definitely-new candidates skip that join;
  - the heap and stack pops are ``orderBy(...).limit(B)`` = distributed
    TakeOrdered, and queue subtraction is an anti-join on the unique queue
    key (multiset-exact);
  - fetch joins are hash joins on the canonical fetch key; the pages/links
    tables would be Iceberg-bucketed by that key in production so the join
    co-locates without shuffle;
  - politeness slots/budgets and hot-host salting plug in around the fetch
    join (operators/politeness.py) without changing crawl semantics.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from math import inf
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dist import with_global_cumsum, with_global_seq
from ..functions.canonical import (
    canonical_col,
    join_and_canonicalize_udf,
    join_url_udf,
)
from ..functions.filters import FilterSpec, chain_column, url_validity
from ..functions.scorers import ScorerSpec
from ..functions.urlparts import host_of
from ..operators.politeness import (
    RATE_LIMIT_CODES,
    empty_domain_state_df,
    fold_domain_state_df,
    salt_hot_hosts,
    split_host_budget,
    with_host_slots,
    with_salted_host_slots,
)
from ..operators.robots import robots_gate, robots_gate_df
from ..operators.seen import BloomSidecar
from .checkpoint import SnapshotStore

_BIG = 1 << 62  # stands in for math.inf page budgets in long arithmetic

# Target rows per task for superstep dataflows.  Python-stage jobs cost
# ~0.3 s per partition per job in local mode (worker round-trips), so tiny
# supersteps must not inherit the full shuffle parallelism; at scale the
# same rule sizes partitions to the pop batch instead of a global constant.
_ROWS_PER_TASK = 20_000


@dataclass
class CrawlConfig:
    strategy: str = "bfs"  # bfs | dfs | dfs_batched | best_first
    max_depth: int = 2
    max_pages: int | None = None  # None = unbounded (math.inf in reference)
    score_threshold: float = -inf  # BFS/DFS only (bfs_strategy.py:116-119)
    include_external: bool = False
    filters: list[FilterSpec] = field(default_factory=list)
    scorer: ScorerSpec | None = None
    batch_size: int = 10  # best-first / dfs_batched pop size (bff_strategy.py:18)
    check_robots_txt: bool = False  # async_configs.py:713 default False
    # D1: per-host per-superstep fetch cap (= floor(superstep_window/delay)
    # in production).  Overflow rows are DEFERRED to the next superstep —
    # the batch translation of RateLimiter's per-domain sleep
    # (async_dispatcher.py:44-65).  bfs and best_first only (the DFS
    # strategies raise); None disables.
    politeness_budget: int | None = None
    # D2: 429/503 backoff loop (async_dispatcher.py:67-87).  When True the
    # engine folds per-host RateLimiter state after every superstep,
    # requeues rate-limited rows with attempt+1 at ready-superstep
    # now + ceil(host_delay / superstep_window_s), and stops retrying once
    # the host's fail streak passes max_retries (give-up) or the row has
    # been attempted max_retries extra times.  bfs and best_first only.
    backoff: bool = False
    superstep_window_s: float = 10.0  # virtual wall-clock of one superstep
    max_retries: int = 3  # async_dispatcher.py:35
    seed: int = 42  # deterministic backoff jitter (north_rule parity)
    # T6: Bloom URL-seen sidecar (north_rule mandate; sizing crazy.py:53,
    # 112-120).  None disables; capacity is the expected |seen| — overflow
    # only raises the FP (extra exact-join probes), never wrong results.
    bloom_capacity: int | None = 1 << 20
    bloom_fp_rate: float = 0.01
    bloom_buckets: int = 32
    # which sidecar structure guards the seen-table anti-join: "bloom"
    # (pure-add, vectorized bit ops) or "cuckoo" (deletable fingerprints —
    # pair with recrawl-TTL eviction); both are exact-by-construction
    # prefilters, results are identical.  bloom_capacity None disables
    # either.
    seen_filter: str = "bloom"
    # D7: hosts with more than this many frontier rows in one superstep are
    # salted across salt_buckets sub-partitions (execution-only: the budget
    # split and slot ranks stay exactly the unsalted semantics).
    hot_host_rows: int = 100_000
    salt_buckets: int = 16
    max_supersteps: int = 10_000
    user_agent: str = "*"
    # FilterStats/ScoringStats analogs (filters.py:19-37, scorers.py:26-62):
    # when True each discovery also logs candidate/passed/skipped counts
    # (one extra agg per superstep — opt-in, off the hot path by default).
    collect_filter_stats: bool = False
    # CrawlResult.ssl_certificate analog (async_configs.py:742 default
    # False; ssl_certificate.py:30-84).  When True, results gain the
    # ssl_* cert-info columns: one synthetic handshake per HOST (the
    # reference does one per page only because it is single-URL
    # oriented), parsed in one Arrow pass over the host dimension and
    # broadcast-joined back — never a per-row fetch.
    fetch_ssl_certificate: bool = False

    @property
    def page_budget(self) -> int:
        return _BIG if self.max_pages is None else int(self.max_pages)


@dataclass
class CrawlRun:
    results: DataFrame  # seq,url,depth,parent,score,success,status_code,...
    seen: DataFrame  # url
    metrics: list[dict[str, Any]]
    pages_crawled: int


RESULT_COLS = [
    "superstep", "seq", "url", "fetch_key", "host", "depth", "parent",
    "score", "success", "status_code", "attempt", "image_id",
]

# Frontier row.  ``seq`` is the queue key, unique within the frontier and
# stable across budget deferral and retries: the global enqueue sequence
# for level (seeds first, then discovery order; also the emitted result
# seq), the push sequence for heap, the stack position for stack.
# ``attempt`` counts backoff retries; ``ready`` is the earliest superstep
# the row may fetch in.
FRONTIER_COLS = ["url", "parent", "depth", "seq", "score", "attempt", "ready"]
FRONTIER_SCHEMA = (
    "url string, parent string, depth int, seq long, score double, "
    "attempt int, ready long"
)


@dataclass(frozen=True)
class _PopPolicy:
    """How a superstep takes rows off the frontier."""

    order: tuple  # priority: pop, budget split, per-URL dedup, result seq
    limit: int | None  # rows per pop; None = every eligible row (level)
    drain: bool  # keeps fetching queued rows after max_pages is reached
    raw_hrefs: bool = False  # pushes raw hrefs under a running page budget
    lifo: bool = False  # pushes reversed; every row reports scorer(url)


def _pop_policy(cfg: CrawlConfig) -> _PopPolicy:
    s = cfg.strategy
    if s == "bfs":
        return _PopPolicy((F.col("depth"), F.col("seq")), None, drain=True)
    if s == "best_first":
        heap = (F.col("score"), F.col("depth"), F.col("url"),
                F.col("parent").asc_nulls_first(), F.col("seq"))
        return _PopPolicy(heap, cfg.batch_size, drain=False, raw_hrefs=True)
    if s in ("dfs", "dfs_batched"):
        return _PopPolicy((F.col("seq").desc(),),
                          1 if s == "dfs" else cfg.batch_size,
                          drain=s == "dfs", lifo=True)
    raise ValueError(f"unknown strategy {s!r}")


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        links: DataFrame,
        config: CrawlConfig,
        robots_pdf=None,
        politeness: DataFrame | None = None,
        store: SnapshotStore | None = None,
    ):
        self.spark = spark
        self.cfg = config
        self.robots_pdf = robots_pdf
        self.politeness = politeness
        self.store = store
        self.metrics: list[dict[str, Any]] = []
        # page lookup keyed by canonical URL; only the columns the engine
        # touches (column pruning reaches the parquet scan).
        self.pages_kv = pages.select(
            F.col("url").alias("page_url"),
            F.col("success").alias("page_success"),
            F.col("status_code").alias("page_status"),
            F.col("image_id"),
        )
        self.links = links  # src_url, pos, href, is_internal
        self.bloom: BloomSidecar | None = None  # set per-run in run()
        # one background lane for the per-superstep results write (job
        # submission is thread-safe on a SparkSession); joined before the
        # superstep's persisted inputs unpersist
        self._io_pool = ThreadPoolExecutor(max_workers=1)

    def _parts(self, n_rows: int) -> int:
        """Partition count sized to the superstep batch."""
        cap = self.spark.sparkContext.defaultParallelism
        return max(1, min(cap, -(-n_rows // _ROWS_PER_TASK)))

    # ------------------------------------------------------------ fetch
    def _hot_hosts(self, frontier: DataFrame, n_rows: int) -> list[str]:
        """D7: hosts whose frontier share this superstep exceeds
        ``hot_host_rows`` (top 64).  Detection reads the raw url host
        JVM-side (no Arrow pass) and is skipped entirely for small
        supersteps, where no single task can straggle anyway."""
        cfg = self.cfg
        if n_rows < cfg.hot_host_rows * 2:
            return []
        rows = (
            frontier.groupBy(F.lower(host_of(F.col("url"))).alias("h"))
            .count()
            .filter(F.col("count") > cfg.hot_host_rows)
            .orderBy(F.col("count").desc())
            .limit(64)
            .collect()
        )
        return [r["h"] for r in rows if r["h"]]

    def _prepare(self, frontier: DataFrame, n_rows: int,
                 hot_hosts: list[str]) -> DataFrame:
        """Canonical fetch key + host, partitioned for the fetch stage."""
        f = frontier.withColumn(
            "fetch_key", canonical_col(F.col("url"), F.col("url"))
        ).withColumn("host", F.lower(host_of(F.col("fetch_key"))))
        # Hash-partition on host, sized to the batch: (a) breaks the
        # canonicalize→robots chained-Python-stage fusion (each chained
        # python stage pays per-partition worker round-trips per job);
        # (b) co-partitions for the robots memo and the politeness window
        # (Window.partitionBy(host) reuses this exchange — no extra
        # shuffle); (c) hot hosts fan out over salted sub-keys so one
        # domain can never pin a whole task (D7).
        if hot_hosts:
            f = salt_hot_hosts(f, hot_hosts, self.cfg.salt_buckets,
                               url_col="url")
            return f.repartition(self._parts(n_rows), "host_part").drop("host_part")
        return f.repartition(self._parts(n_rows), "host")

    def _fetch_prepared(self, f: DataFrame,
                        hot_hosts: list[str] | None = None) -> DataFrame:
        """S2/P8/D1: robots gate → politeness slots → synthetic fetch join.

        The synthetic fetch resolves any raw URL to its canonical page
        (HTTP's fragment-dropping + case-folding stand-in), mirroring the
        oracle's OracleGraph.fetch.
        """
        rules = self.robots_pdf if self.cfg.check_robots_txt else None
        if isinstance(rules, DataFrame):
            # millions-of-hosts path: rules stay a DataFrame, joined on host
            f = robots_gate_df(f, rules, url_col="fetch_key",
                               host_col="host", user_agent=self.cfg.user_agent)
        else:
            f = robots_gate(f, rules, url_col="fetch_key", host_col="host",
                            user_agent=self.cfg.user_agent)
        if self.politeness is not None:
            if hot_hosts:
                # semantically equivalent interleaved ranks (conservative
                # slots), no single-task-per-host window (politeness.py)
                f = with_salted_host_slots(
                    f, self.politeness, order_cols=["seq"],
                    hot_hosts=hot_hosts, salt_buckets=self.cfg.salt_buckets,
                )
            else:
                f = with_host_slots(f, self.politeness, order_cols=["seq"])
        joined = f.join(
            self.pages_kv, f["fetch_key"] == self.pages_kv["page_url"], "left"
        ).drop("page_url")
        return joined.withColumn(
            "success",
            F.col("robots_allowed") & F.coalesce(F.col("page_success"), F.lit(False)),
        ).withColumn(
            "status_code",
            F.when(~F.col("robots_allowed"), F.lit(403))  # async_webcrawler.py:361-370
            .otherwise(F.coalesce(F.col("page_status"), F.lit(0))),
        ).drop("page_success", "page_status")

    def _mark_seen(self, seen: DataFrame, new_urls: DataFrame) -> DataFrame:
        """Append to the URL-seen table AND the Bloom sidecar — the sidecar
        must hold every seen URL before any discovery probe (no false
        negatives ⇒ the prefilter stays exact).  Lazy checkpoint: the union
        materializes inside the same superstep's discovery/commit job
        instead of paying its own job launch; its lineage is two
        already-checkpointed inputs either way."""
        # dedup before marking: the same URL can sit twice in one
        # superstep (duplicate-URL quirk) — without this, every dup costs
        # a redundant seen-table row AND a sidecar slot the cuckoo
        # capacity sizing never budgeted (repeated re-adds saturate
        # shards and flip their sticky overflow flag)
        new = new_urls.distinct()
        seen = seen.unionByName(new).localCheckpoint(eager=False)
        if self.bloom is not None:
            self.bloom.add(new, url_col="url")
        return seen

    def _retry_rows(self, fetched: DataFrame, domain_state: DataFrame,
                    superstep: int) -> DataFrame:
        """D2 requeue: rate-limited rows re-enter the frontier with
        attempt+1 and their queue key (a best-first retry re-pops in heap
        order), eligible after the host's folded backoff delay
        (ceil(current_delay / superstep_window_s) supersteps); rows on
        gave-up hosts and rows out of attempts are final (reference error
        'Rate limit retry count exceeded', async_dispatcher.py:364-366).

        ``domain_state`` is a DataFrame keyed by host (never driver
        pandas); the join shuffles on host — AQE broadcast-converts it
        while the state is small, and at 10^8 hosts it stays a
        distributed hash join."""
        cfg = self.cfg
        failed = fetched.filter(
            F.col("status_code").isin(list(RATE_LIMIT_CODES))
            & (F.col("attempt") < cfg.max_retries)
        )
        state_df = domain_state.select("host", "current_delay", "give_up")
        j = failed.join(state_df, "host", "left")
        j = j.filter(~F.coalesce(F.col("give_up"), F.lit(False)))
        steps = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.coalesce(F.col("current_delay"), F.lit(0.0))
                / F.lit(float(cfg.superstep_window_s))
            ).cast("long"),
        )
        return j.select(
            "url", "parent", "depth", F.col("key").alias("seq"), "score",
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(superstep) + steps).alias("ready"),
        )

    # -------------------------------------------------------- discovery
    def _discover(
        self,
        fetched: DataFrame,
        seen: DataFrame,
        remaining_expr,
        canonicalize: bool,
        base_seq: int,
        est_rows: int,
        pending: DataFrame | None = None,
        reverse: bool = False,
    ) -> DataFrame:
        """link_discovery as a dataflow (bfs_strategy.py:68-139 with
        canonicalize=True; bff_strategy.py:76-125 with canonicalize=False)
        → frontier rows keyed from ``base_seq`` in discovery order, or in
        reverse discovery order for a stack (``reverse``).

        ``remaining_expr`` is the per-parent remaining-capacity column
        (constant per superstep for level and stack, cumulative within the
        batch for heap).
        """
        cfg = self.cfg
        src = fetched.filter(F.col("success")).select(
            F.col("seq").alias("parent_seq"),
            F.col("url").alias("parent_url"),
            F.col("fetch_key").alias("parent_key"),
            (F.col("depth") + 1).alias("link_depth"),
            remaining_expr.alias("remaining"),
        )
        src = src.filter(F.col("link_depth") <= F.lit(cfg.max_depth))  # :88-90
        cand = src.join(self.links, src["parent_key"] == self.links["src_url"])
        if not cfg.include_external:
            cand = cand.filter(F.col("is_internal"))
        # reference iterates internal links first, then external (:93-96)
        cand = cand.withColumn(
            "link_block", F.when(F.col("is_internal"), 0).otherwise(1)
        )
        # C1 first: the reference's scraper emits ABSOLUTE normalized links
        # (content_scraping_strategy.py:488-492), so link["href"] reaching
        # link_discovery is always urljoin(page_url, raw).strip(); our
        # synthetic links table stores raw variants to exercise this stage.
        if canonicalize:
            # BFS family: C2 canonical is the pushed URL + seen key (:105).
            # C1 + C2 fused into ONE Arrow stage (join_and_canonicalize_udf)
            # — one Python round trip instead of two chained pandas UDFs.
            cand = cand.withColumn(
                "__jc", join_and_canonicalize_udf(F.col("href"), F.col("parent_url"))
            ).withColumn(
                "abs_href", F.col("__jc.abs")
            ).withColumn(
                "target", F.col("__jc.canon")
            ).drop("__jc").filter(F.col("abs_href").isNotNull())
        else:
            # best-first pushes the scraper's absolute href as-is (bff :108)
            cand = cand.withColumn(
                "abs_href", join_url_udf(F.col("href"), F.col("parent_url"))
            ).filter(F.col("abs_href").isNotNull())
            cand = cand.withColumn("target", F.col("abs_href"))
        # P1 validity + P2 filter chain — on the absolute href (bfs :109)
        if cfg.collect_filter_stats:
            passed_expr = url_validity(F.col("abs_href"))
            if cfg.filters:
                passed_expr = passed_expr & chain_column(F.col("abs_href"), cfg.filters)
            stats = cand.agg(
                F.count("*").alias("candidates"),
                F.sum(passed_expr.cast("long")).alias("passed"),
            ).collect()[0]
            self._log(
                filter_stats={
                    "candidates": stats["candidates"],
                    "passed": int(stats["passed"] or 0),
                    "rejected": stats["candidates"] - int(stats["passed"] or 0),
                }
            )
        cand = cand.filter(url_validity(F.col("abs_href")))
        if cfg.filters:
            cand = cand.filter(chain_column(F.col("abs_href"), cfg.filters))
        if cfg.scorer is not None:
            cand = cand.withColumn("score", cfg.scorer.column(F.col("target")).cast("double"))
        else:
            cand = cand.withColumn("score", F.lit(0.0))
        if cfg.score_threshold != -inf and canonicalize:
            # score_threshold lives in the BFS-family discovery only
            # (bfs_strategy.py:116-119; applies even with no scorer, score=0)
            cand = cand.filter(F.col("score") >= F.lit(cfg.score_threshold))
        # URL-seen anti-join (T6): seen state as of superstep start.  With
        # the Bloom sidecar (north_rule mandate) definitely-new candidates
        # skip the seen-table shuffle join entirely; only the maybe-seen
        # slice (true dups + ~fp_rate) pays the exact left_anti — at 10^10
        # seen URLs that join's probe side shrinks to the dup fraction.
        seen_t = seen.select(F.col("url").alias("target"))
        nparts = self._parts(est_rows)
        if self.bloom is not None:
            # lazy localCheckpoint: both union branches read the SAME
            # materialization of the cogroup probe (first job caches it;
            # blocks are GC-released with the plan) instead of running the
            # canonicalize→cogroup pipeline twice
            flagged = self.bloom.prefilter(
                cand, "target", num_partitions=nparts
            ).localCheckpoint(eager=False)
            fresh = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
            suspect = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
            cand = fresh.unionByName(suspect.join(seen_t, "target", "left_anti"))
        else:
            cand = cand.join(seen_t, on="target", how="left_anti")
        if pending is not None:
            # queued-but-unfetched rows (budget-deferred / backoff-waiting /
            # retries) are not in seen yet; exclude them exactly so a URL
            # never occupies two frontier entries across supersteps
            cand = cand.join(
                pending.select(F.col("url").alias("target")), "target", "left_anti"
            )
        # capacity truncation (bfs :123-129 / bff :117-120): sort by score
        # desc ONLY when a scorer exists AND the parent overflows (BFS);
        # best-first truncates unsorted.
        wp = Window.partitionBy("parent_seq")
        cand = cand.withColumn("n_valid", F.count("*").over(wp))
        overflow = F.col("n_valid") > F.col("remaining")
        if cfg.scorer is not None and canonicalize:
            sort_key = F.when(overflow, -F.col("score")).otherwise(F.lit(0.0))
        else:
            sort_key = F.lit(0.0)
        rn = F.row_number().over(
            wp.orderBy(sort_key, F.col("link_block"), F.col("pos"))
        )
        cand = cand.withColumn("rn", rn).filter(F.col("rn") <= F.col("remaining"))
        out = cand.select(
            F.col("target").alias("url"),
            F.col("parent_url").alias("parent"),
            F.col("link_depth").alias("depth"),
            F.col("score"),
            F.col("parent_seq"),
            F.col("rn"),
        )
        # stack reversal (dfs_strategy.py:57-60, batched): children of the
        # earliest-popped parent, first link first, get the HIGHEST keys
        order = ([F.col("parent_seq").desc(), F.col("rn").desc()] if reverse
                 else ["parent_seq", "rn"])
        return with_global_seq(
            out, order, out_col="seq", start=base_seq, num_partitions=nparts,
        ).select(
            "url", "parent", "depth", "seq", "score",
            F.lit(0).alias("attempt"), F.lit(0).cast("long").alias("ready"),
        )

    # ------------------------------------------------------------ loop
    def _pop(self, pol: _PopPolicy, frontier: DataFrame, eligible: DataFrame,
             seen: DataFrame, superstep: int):
        """Take this superstep's rows off the frontier → (batch, rest,
        persisted pop to release at superstep end).

        Level pops every eligible row.  Heap and stack pop the first
        ``limit`` eligible rows in policy order; already-visited rows then
        drop out but still consumed a slot (bff :153-160, dfs :35), and
        retries are exempt (their URL was marked by the failed attempt).
        A URL popped twice keeps its first row in policy order."""
        if pol.limit is None:
            waiting = (frontier.filter(F.col("ready") > F.lit(superstep))
                       if self.cfg.backoff else None)
            return eligible, waiting, None
        popped = eligible.orderBy(*pol.order).limit(pol.limit).persist(
            StorageLevel.MEMORY_AND_DISK)
        rest = frontier.join(popped.select("seq"), "seq", "left_anti")
        fresh = popped.filter(F.col("attempt") == 0).join(seen, "url", "left_anti")
        batch = fresh.unionByName(popped.filter(F.col("attempt") > 0))
        first = Window.partitionBy("url").orderBy(*pol.order)
        batch = batch.withColumn("__r", F.row_number().over(first)).filter(
            F.col("__r") == 1).drop("__r")
        return batch, rest, popped

    def run(self, seeds: list[str], resume: bool = False) -> CrawlRun:
        """The superstep loop every strategy shares (oracle twins:
        crawl_bfs_scheduled, crawl_best_first_scheduled, crawl_dfs,
        crawl_dfs_batched in oracle/crawler.py).  One superstep:

          - pop: the policy takes rows off the frontier (``_pop``).  Rows
            waiting on backoff (ready > superstep) are not eligible; a
            superstep with nothing eligible fast-forwards to the earliest
            ready one;
          - D1 budget: each host fetches its first `budget` popped rows in
            policy order (ranked pre-robots); the rest return to the
            frontier intact and unmarked;
          - visited marks at fetch time (failures included,
            bfs_strategy.py:161);
          - D2 backoff: rate-limited rows requeue with attempt+1 at
            ready = superstep + ceil(host_delay / window) under their own
            queue key; gave-up hosts stop retrying;
          - next frontier = unpopped + deferred + retried + discovered rows.
            Level discovery also excludes the URLs of the first three
            (they are queued but not yet seen); heap and stack queues hold
            duplicate URLs and drop them at pop, as the reference does.
        """
        cfg = self.cfg
        spark = self.spark
        pol = _pop_policy(cfg)
        budget = cfg.politeness_budget
        if budget is not None and budget < 1:
            raise ValueError("politeness_budget must be >= 1")
        if pol.lifo and (budget is not None or cfg.backoff):
            # no oracle twin defines a DFS schedule under deferral or
            # retries; fetching unthrottled would silently break the promise
            raise ValueError(
                f"strategy {cfg.strategy!r} supports neither politeness_budget "
                "nor backoff")
        self.bloom = self._sidecar()
        state = self._restore() if resume else None
        if state is None:
            n = len(seeds)
            # seeds pop in list order under every policy
            frontier = spark.createDataFrame(
                [(u, None, 0, n - 1 - i if pol.lifo else i, 0.0, 0, 0)
                 for i, u in enumerate(seeds)],
                FRONTIER_SCHEMA,
            )
            if pol.lifo and cfg.scorer is not None:
                # DFS results carry scorer(url) (dfs_strategy.py); pushed
                # rows already hold it from discovery, seeds get it here
                frontier = frontier.withColumn(
                    "score", cfg.scorer.column(F.col("url")).cast("double"))
            seen = spark.createDataFrame([], "url string")
            superstep, result_parts, n_frontier = 0, [], n
            pages_crawled, enq_base, n_results = 0, n, 0
            domain_state = empty_domain_state_df(spark)
            hint: dict | None = None
        else:
            frontier, seen = state["frontier"], state["seen"]
            superstep, result_parts = state["superstep"], state["result_parts"]
            c = state["counters"]
            # the committed hint describes the committed frontier: a resumed
            # run needs no count job and plans like an uninterrupted one
            pages_crawled, enq_base, n_results, hint = (
                c["pages_crawled"], c["enq_base"], c["n_results"], c["hint"])
            n_frontier = hint["n"]
            domain_state = state["domain_state"]
            if domain_state is None:
                domain_state = empty_domain_state_df(spark)
            if self.bloom is not None:
                self.bloom.add(seen.select("url"))
        while superstep < cfg.max_supersteps and n_frontier:
            if not pol.drain and pages_crawled >= cfg.page_budget:
                break  # bff :146-149
            hint_ok = hint is not None and hint["for"] == superstep
            if cfg.backoff:
                n_elig = (
                    hint["nready"] if hint_ok
                    else frontier.filter(F.col("ready") <= F.lit(superstep)).count()
                )
                if n_elig == 0:
                    # virtual sleep: jump to the earliest ready superstep
                    superstep = (
                        hint["minready"] if hint_ok
                        else int(frontier.agg(F.min("ready")).collect()[0][0])
                    )
                    hint = None
                    continue
                eligible = frontier.filter(F.col("ready") <= F.lit(superstep))
            else:
                eligible, n_elig = frontier, n_frontier
            t0 = time.time()
            batch, rest, popped = self._pop(pol, frontier, eligible, seen, superstep)
            held = [popped]
            n_pop = n_elig if pol.limit is None else min(n_elig, pol.limit)
            hot = self._hot_hosts(batch, n_pop)
            prep = self._prepare(batch, n_rows=n_pop, hot_hosts=hot)
            # skip the checkpoint + window split when the hint proves no
            # host holds more than `budget` frontier rows (the split would
            # defer nothing) — the common steady-state for wide crawls
            skip_split = (
                budget is not None and hint_ok
                and hint["empty"] == 0 and hint["maxhost"] <= budget
            )
            # without a split, mark from the unprepared rows: the seen
            # union then never runs the canonicalize pass
            within, deferred, marked = prep, None, batch
            if budget is not None and not skip_split:
                within, deferred = split_host_budget(
                    prep.localCheckpoint(eager=True), budget, list(pol.order),
                    hot_hosts=hot, salt_buckets=cfg.salt_buckets, url_col="url",
                )
                marked = within
            if pol.limit is None:
                within = within.withColumn("key", F.col("seq"))
            else:
                # result seq = position in policy order over the rows that
                # fetch (after the split); the queue key moves to `key`
                within = marked = with_global_seq(
                    within, list(pol.order), out_col="rseq", start=n_results,
                    num_partitions=self._parts(n_pop),
                ).withColumnRenamed("seq", "key").withColumnRenamed(
                    "rseq", "seq").persist(StorageLevel.MEMORY_AND_DISK)
                held.append(within)
            # T6: mark visited BEFORE fetch (bfs_strategy.py:161) — the
            # URL-seen set includes failed fetches; budget-deferred rows
            # are not seen until actually fetched, and a retry's URL was
            # marked by its first attempt
            seen = self._mark_seen(
                seen, marked.filter(F.col("attempt") == 0).select("url"))
            t_split = time.time()
            fetched = self._fetch_prepared(within, hot_hosts=hot)
            if pol.limit is None:
                # duplicate-URL quirk (bfs_strategy.py:174): every result
                # of a URL that appears twice in a superstep reports the
                # parent of the FIRST (lowest enqueue seq) entry for it
                wfirst = Window.partitionBy("url").orderBy("seq")
                fetched = fetched.withColumn("parent", F.first("parent").over(wfirst))
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            held.append(fetched)
            stat = fetched.agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
                F.min(F.when(F.col("success"), F.col("depth"))).alias("dmin"),
            ).collect()[0]
            t_fetch = time.time()
            n_within = int(stat["n"])
            n_success = int(stat["ok"] or 0)
            pages_before = pages_crawled
            pages_crawled += n_success
            # non-blocking: the results write (a job over the persisted
            # fetch) overlaps the discovery/frontier work below; joined
            # before the fetch unpersists.  A heap/stack pop of only
            # visited rows fetched nothing and writes no part.
            res_future = self._io_pool.submit(
                self._persist_results,
                fetched.withColumn("superstep", F.lit(superstep)).select(RESULT_COLS),
                superstep,
            ) if n_within else None
            retries = None
            if cfg.backoff:
                # lazy checkpoint: materialized by this superstep's retry
                # join / commit job; keeps cross-superstep lineage flat
                domain_state = fold_domain_state_df(
                    domain_state, fetched, seed=cfg.seed, superstep=superstep,
                    max_retries=cfg.max_retries,
                    num_partitions=self._parts(n_within),
                ).localCheckpoint(eager=False)
                retries = self._retry_rows(fetched, domain_state, superstep)
            pending = None
            for part in (rest, deferred, retries):
                if part is not None:
                    part = part.select(*FRONTIER_COLS)
                    pending = part if pending is None else pending.unionByName(part)
            # page budget left for discovery: heap counts successes as they
            # land (bff :146-149), so its best row is the first success
            left = cfg.page_budget - (pages_before + 1 if pol.raw_hrefs
                                      else pages_crawled)
            if (n_success > 0 and left > 0
                    and int(stat["dmin"]) + 1 <= cfg.max_depth):
                src, remaining = fetched, F.lit(left)
                if pol.raw_hrefs:
                    # per-parent remaining from cumulative successes in
                    # result order: a two-pass distributed cumsum, NOT
                    # Window.orderBy("seq") (one task for the whole batch)
                    src = with_global_cumsum(
                        fetched, ["seq"], "success", out_col="cum_succ",
                        num_partitions=self._parts(n_pop),
                    )
                    remaining = (F.lit(cfg.page_budget - pages_before)
                                 - F.col("cum_succ"))
                nxt = self._discover(
                    src, seen, remaining, canonicalize=not pol.raw_hrefs,
                    base_seq=enq_base, est_rows=n_pop * 8,
                    pending=pending if pol.limit is None else None,
                    reverse=pol.lifo,
                )
            else:
                nxt = frontier.limit(0)
            if pending is not None:
                nxt = pending.unionByName(nxt)
            # lazy checkpoint: the fused agg below is the materializing job
            # (an eager checkpoint + separate count would be two jobs)
            nxt = nxt.localCheckpoint(eager=False)
            hint = self._frontier_hint(nxt, superstep + 1)
            n_next = hint["n"]
            enq_base = max(enq_base, hint["mx"] + 1)
            t_disc = time.time()
            if res_future is not None:
                result_parts.append(res_future.result())
            t_results = time.time()
            n_results += n_within
            self._log(
                superstep=superstep, popped=n_within, eligible=n_elig,
                # popped off the frontier but not fetched: budget-deferred
                # rows, plus visited rows a heap/stack pop discarded
                deferred=n_pop - n_within, waiting=n_frontier - n_elig,
                successes=n_success, pages_crawled=pages_crawled,
                frontier_out=n_next, hot_hosts=len(hot),
                budget_split_skipped=bool(skip_split),
                wall_ms=int((time.time() - t0) * 1000),
                phase_ms={
                    "split": int((t_split - t0) * 1000),
                    "fetch": int((t_fetch - t_split) * 1000),
                    "discover": int((t_disc - t_fetch) * 1000),
                    "results_wait": int((t_results - t_disc) * 1000),
                },
            )
            self._commit(superstep, frontier=nxt, seen=seen,
                         counters={"pages_crawled": pages_crawled,
                                   "enq_base": enq_base,
                                   "n_results": n_results, "hint": hint},
                         domain_state=domain_state if cfg.backoff else None)
            for df in held:
                if df is not None:
                    df.unpersist()
            frontier = nxt
            n_frontier = n_next
            superstep += 1
        order = ["superstep", "depth", "seq"] if pol.limit is None else ["seq"]
        return self._finish(result_parts, seen, pages_crawled, order=order)

    @staticmethod
    def _frontier_hint(nxt: DataFrame, for_superstep: int) -> dict:
        """One fused aggregate over the next frontier: its size and max
        key, plus the hint for ``for_superstep`` — eligible count, earliest
        ready, per-raw-host max and empty-host count.  The hint kills the
        per-loop eligible-count job and the budget checkpoint+split when
        no host can exceed the budget.  The raw-host grouping is exact for
        the skip decision: for any absolute URL the lowered host equals the
        canonical host (C2 only lowercases the netloc), and rows without a
        netloc force the exact path via the empty-host guard."""
        # anchored host extract for the skip-split guard: host_of's
        # bare '://([^/]+)' would pull a "host" out of a query string
        # ('http//typo?u=https://real.com/x'), hiding a row the
        # canonical parser maps to host '' — such rows must land in
        # the `empty` count so the guard forces the exact split path
        hint_host = F.lower(F.regexp_extract(
            F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1))
        g = nxt.groupBy(hint_host.alias("__h")).agg(
            F.count("*").alias("c"),
            F.max("seq").alias("mx"),
            F.min("ready").alias("mr"),
            F.sum((F.col("ready") <= F.lit(for_superstep)).cast("long")).alias("rdy"),
        )
        st = g.agg(
            F.sum("c").alias("n"),
            F.max("mx").alias("mx"),
            F.max("c").alias("maxhost"),
            F.sum(F.when(F.col("__h") == "", F.col("c")).otherwise(F.lit(0))).alias("empty"),
            F.min("mr").alias("minready"),
            F.sum("rdy").alias("nready"),
        ).collect()[0]
        return {
            "for": for_superstep,
            "n": int(st["n"] or 0),
            "mx": -1 if st["mx"] is None else int(st["mx"]),
            "nready": int(st["nready"] or 0),
            "minready": None if st["minready"] is None else int(st["minready"]),
            "maxhost": int(st["maxhost"] or 0),
            "empty": int(st["empty"] or 0),
        }

    # ----------------------------------------------------------- resume
    def _restore(self):
        """Load the last committed snapshot (north_rule checkpoint/resume):
        manifest → superstep + counters; orphan dirs from a crashed
        superstep are deleted; returns None when nothing was committed."""
        if self.store is None:
            return None
        mf = self.store.last_commit()
        if mf is None:
            return None
        s = mf["superstep"]
        self.store.clean_orphans(s)
        parts = []
        start = 0
        comp = self.store.read_compacted(self.spark, "results")
        if comp is not None:
            # compaction vacuumed the per-superstep delta dirs it merged;
            # the compacted snapshot replaces parts 0..upto
            cdf, upto = comp
            parts.append(cdf)
            start = upto + 1
        for i in range(start, s + 1):
            parts.append(self.store.read_one(self.spark, "results", i))
        return {
            "superstep": s + 1,
            "frontier": self.store.read_one(self.spark, "frontier", s),
            "seen": self.store.read_one(self.spark, "seen", s),
            # a heap/stack superstep that fetched nothing wrote no part
            "result_parts": [p for p in parts if p is not None],
            "counters": mf["counters"],
            # DataFrame (never driver pandas)
            "domain_state": self.store.read_one(self.spark, "domain_state", s),
        }

    # ---------------------------------------------------------- helpers
    def _sidecar(self):
        """The URL-seen prefilter for this run (exact either way)."""
        cfg = self.cfg
        if not cfg.bloom_capacity:
            return None
        if cfg.seen_filter == "cuckoo":
            from ..operators.seen import CuckooSidecar

            return CuckooSidecar(
                self.spark, cfg.bloom_capacity, n_shards=cfg.bloom_buckets)
        return BloomSidecar(
            self.spark, cfg.bloom_capacity, cfg.bloom_fp_rate, cfg.bloom_buckets)

    def _persist_results(self, results_s: DataFrame, superstep: int) -> DataFrame:
        if self.store is not None:
            self.store.write("results", results_s, superstep)
            return self.store.read_one(self.spark, "results", superstep)
        return results_s.localCheckpoint(eager=True)

    def _commit(self, superstep: int, frontier: DataFrame, seen: DataFrame,
                counters: dict, domain_state: DataFrame | None = None) -> None:
        if self.store is None:
            return
        self.store.write("frontier", frontier, superstep)
        self.store.write("seen", seen, superstep)
        if domain_state is not None:
            self.store.write("domain_state", domain_state, superstep)
        if self.metrics:
            # per-superstep fetch/dedup metrics + per-partition lineage
            # (part-file → rows/bytes, read from parquet footers driver-side)
            entry = dict(self.metrics[-1])
            entry["lineage"] = {
                t: self.store.partition_lineage(t, superstep)
                for t in ("results", "frontier", "seen")
            }
            self.store.write_json("metrics", superstep, entry)
        self.store.commit(superstep, counters)

    def _log(self, **kw) -> None:
        self.metrics.append(kw)

    def _finish(self, parts: list[DataFrame], seen: DataFrame,
                pages_crawled: int, order: list[str]) -> CrawlRun:
        if parts:
            results = parts[0]
            for p in parts[1:]:
                results = results.unionByName(p)
        else:
            results = self.spark.createDataFrame(
                [], "superstep int, seq long, url string, fetch_key string, host string, "
                    "depth int, parent string, score double, success boolean, "
                    "status_code int, attempt int, image_id string",
            )
        if self.cfg.fetch_ssl_certificate:
            from ..operators.sslcert import ssl_certificate_stage
            from ..sources.sslsynth import host_certs_df

            certs = ssl_certificate_stage(
                host_certs_df(results.select("host").distinct()))
            # ship only the parsed ssl_* columns — duplicating the raw
            # ~1 KB DER blob onto every result row would inflate the
            # results table by GBs at 10^6+ rows (the config promises
            # cert-info columns, and ssl_pem already carries the cert)
            results = results.join(
                F.broadcast(certs.drop("cert_der")), "host", "left")
        return CrawlRun(
            results=results.orderBy(*order),
            seen=seen,
            metrics=self.metrics,
            pages_crawled=pages_crawled,
        )


def deep_crawl(
    spark: SparkSession,
    seeds: list[str],
    pages: DataFrame,
    links: DataFrame,
    config: CrawlConfig,
    robots_pdf=None,
    politeness: DataFrame | None = None,
    store: SnapshotStore | None = None,
) -> CrawlRun:
    """Entry point (reference: strategy.arun via DeepCrawlDecorator,
    deep_crawling/base_strategy.py:10-43)."""
    return CrawlEngine(
        spark, pages, links, config, robots_pdf=robots_pdf,
        politeness=politeness, store=store,
    ).run(seeds)
