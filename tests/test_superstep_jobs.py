"""Spark jobs per crawl, one small fixture per pop policy.

The superstep loop's cost at small batch sizes is dominated by fixed
per-job overhead, so a refactor that quietly adds a job per superstep is a
regression even when every parity test stays green.  The benchmark only
drives BFS; these guards keep the best-first (heap) and batched-DFS (stack)
policies from drifting too.  Each ceiling is the job count measured for the
same fixture before the four strategy loops were merged into one (4 local
threads, 4 shuffle partitions, adaptive execution off), so a count may
fall but never rise.
"""

import pytest

from crawl4ai_spark.functions.scorers import ScorerSpec
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.sources.synth import GraphParams, synth_local, url_of

PARAMS = GraphParams(n_pages=60, n_domains=4, mean_degree=5, seed=42)
SCORER = ScorerSpec(kind="keyword", keywords=["blog", "docs"], weight=1.0)

# (strategy, config, job ceiling measured on the per-strategy loops)
CASES = [
    ("bfs", CrawlConfig(strategy="bfs", max_depth=2), 11),
    ("best_first", CrawlConfig(strategy="best_first", max_depth=2,
                               max_pages=15, scorer=SCORER), 36),
    ("dfs_batched", CrawlConfig(strategy="dfs_batched", max_depth=2,
                                max_pages=25, batch_size=8), 31),
]


@pytest.fixture(scope="module")
def tables(spark):
    pages, links, _ = synth_local(PARAMS)
    pages_df = spark.createDataFrame(pages).cache()
    links_df = spark.createDataFrame(links).cache()
    pages_df.count(), links_df.count()
    return pages_df, links_df


def _jobs(spark, fn) -> int:
    """Jobs ``fn`` starts, counted with adaptive execution off.  AQE
    submits every query stage as its own job and, when it re-plans a join
    at run time, may drop a stage it had already submitted, so its job
    count moves by one or two with task timing and session history.
    Without it each job is one the loop asked for (a collect, count,
    checkpoint or write) or a broadcast planned from static sizes."""
    tracker = spark.sparkContext.statusTracker()
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        before = set(tracker.getJobIdsForGroup(None))
        fn()
        return len(set(tracker.getJobIdsForGroup(None)) - before)
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("strategy,cfg,ceiling", CASES,
                         ids=[c[0] for c in CASES])
def test_jobs_per_crawl_do_not_grow(spark, tables, strategy, cfg, ceiling):
    pages_df, links_df = tables
    seeds = [url_of(0, PARAMS)]
    # warm-up: Python worker start and first-use class loading must not
    # be charged to the measured run
    CrawlEngine(spark, pages_df, links_df, cfg).run(seeds)
    runs = []
    n = _jobs(spark, lambda: runs.append(
        CrawlEngine(spark, pages_df, links_df, cfg).run(seeds)))
    assert runs[0].pages_crawled > 0
    assert n <= ceiling, f"{strategy}: {n} Spark jobs > {ceiling} before the merge"
