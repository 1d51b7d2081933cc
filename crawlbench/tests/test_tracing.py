"""The benchmark's own checks of its measuring instruments.

Run from the repository root::

    python -m pytest crawlbench/tests -q

The event-log fold is trusted for per-superstep job counts only because its
job total over a span equals the count of job ids ``statusTracker`` reports
for the same window; these tests hold it to that on real crawl runs.
"""

from __future__ import annotations

import os
import time

import pytest

from crawl4ai_spark.oracle.crawler import ScheduleSpec, crawl_bfs_scheduled, OracleGraph
from crawl4ai_spark.plans.checkpoint import SnapshotStore
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.sources import synth
from crawlbench import procstat
from crawlbench.run import Session
from crawlbench.tracing import EventLog, Tracer, _union_ms

PARAMS = synth.GraphParams(n_pages=300, n_domains=4, hot_fraction=0.3, seed=7)


@pytest.fixture(scope="module")
def traced_crawls(tmp_path_factory):
    """Two crawls (plain BFS, and budgeted BFS with backoff, robots and a
    store, interrupted and resumed) inside spans of an event-logged session."""
    work = tmp_path_factory.mktemp("crawlbench")
    session = Session(work, event_log=True)
    spark = session.spark
    pages_pdf, links_pdf, _ = synth.synth_local(PARAMS)
    pages = spark.createDataFrame(pages_pdf[["url", "success", "status_code", "image_id"]])
    links = spark.createDataFrame(links_pdf)
    seeds = [synth.url_of(i, PARAMS) for i in range(0, 300, 30)]
    robots = synth.gen_robots(PARAMS)
    politeness = spark.createDataFrame(synth.gen_politeness(PARAMS))
    tracer = Tracer(spark, run_id="test")
    try:
        with tracer.span("bfs"):
            bfs = CrawlEngine(spark, pages, links, CrawlConfig(max_depth=2)).run(seeds)
            bfs_rows = bfs.results.collect()
        polite = dict(max_depth=2, politeness_budget=3, backoff=True, check_robots_txt=True)
        store = str(work / "store")
        with tracer.span("polite"):
            CrawlEngine(spark, pages, links, CrawlConfig(max_supersteps=1, **polite),
                        robots_pdf=robots, politeness=politeness,
                        store=SnapshotStore(store)).run(seeds)
            run = CrawlEngine(spark, pages, links, CrawlConfig(max_supersteps=3, **polite),
                              robots_pdf=robots, politeness=politeness,
                              store=SnapshotStore(store)).run(seeds, resume=True)
            polite_rows = run.results.collect()
    finally:
        session.stop()
    graph = OracleGraph.from_frames(pages_pdf, links_pdf)
    want_bfs, _ = crawl_bfs_scheduled(graph, seeds, ScheduleSpec(max_depth=2))
    want_polite, _ = crawl_bfs_scheduled(
        graph, seeds, ScheduleSpec(max_depth=2, politeness_budget=3, backoff=True,
                                   max_supersteps=3), robots_pdf=robots)
    return {
        "tracer": tracer,
        "log": EventLog.from_dir(work / "eventlog"),
        "rows": {"bfs": (bfs_rows, want_bfs), "polite": (polite_rows, want_polite)},
    }


@pytest.mark.parametrize("name", ["bfs", "polite"])
def test_fold_job_total_equals_status_tracker(traced_crawls, name):
    span = traced_crawls["tracer"].get(name)
    fold = traced_crawls["log"].fold_span(span)
    assert len(span.job_ids) > 0
    assert fold.jobs == len(span.job_ids)
    assert fold.stages > 0 and fold.tasks >= fold.stages
    assert fold.busy_ms <= span.ms + 1


@pytest.mark.parametrize("name", ["bfs", "polite"])
def test_traced_crawls_match_reference(traced_crawls, name):
    got, want = traced_crawls["rows"][name]
    key = ("superstep", "seq", "url", "depth", "parent", "success", "status_code", "attempt")
    assert [tuple(r[k] for k in key) for r in got] == [tuple(r[k] for k in key) for r in want]


def test_spans_do_not_share_jobs(traced_crawls):
    tracer = traced_crawls["tracer"]
    assert not set(tracer.get("bfs").job_ids) & set(tracer.get("polite").job_ids)


def test_fold_attributes_python_stage_metrics(traced_crawls):
    fold = traced_crawls["log"].fold_span(traced_crawls["tracer"].get("bfs"))
    assert fold.python_run_ms > 0 and fold.python_bytes_sent > 0
    assert fold.jobs - fold.unattributed_jobs > 0   # some jobs carry an engine call site


def test_union_ms_merges_overlaps():
    assert _union_ms([(0, 10), (5, 15), (20, 30), (25, 26)]) == 25
    assert _union_ms([(3, 3), (5, 4)]) == 0


def test_tree_window_counts_child_cpu():
    pid = os.fork()
    if pid == 0:   # child: burn ~0.5 s of CPU, then exit
        t = time.process_time()
        while time.process_time() - t < 0.5:
            pass
        os._exit(0)
    with procstat.TreeWindow() as w:
        os.waitpid(pid, 0)
    assert w.cpu_s >= 0.3
    assert w.peak_rss_mb > 0
