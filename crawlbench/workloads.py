"""The benchmark's workloads.

Each workload builds its inputs from the seed, computes its reference, and
runs one timed sample at a time.  A traced run additionally replays the
layers of the engine through their public functions and reports per-layer
numbers (``trace_layers``).

Sizes are chosen so that one untraced run, JVM start included, stays near a
minute on a 4-CPU host: the crawl engine's cost is dominated by per-Spark-job
overhead, so the workloads keep the job structure of the full-size crawls
and shrink only the data.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from crawl4ai_spark.dist import with_global_seq
from crawl4ai_spark.functions.canonical import (
    canonical_col,
    join_and_canonicalize_udf,
    normalize_url_for_deep_crawl,
    url_hash_col,
)
from crawl4ai_spark.functions.scorers import freshness_score
from crawl4ai_spark.functions.urlparts import host_of
from crawl4ai_spark.oracle.crawler import ScheduleSpec, _host_of_py
from crawl4ai_spark.operators.politeness import (
    empty_domain_state_df,
    fold_domain_state_df,
    split_host_budget,
    with_host_slots,
    with_salted_host_slots,
)
from crawl4ai_spark.operators.robots import robots_gate
from crawl4ai_spark.operators.seen import BloomSidecar
from crawl4ai_spark.plans.checkpoint import SnapshotStore
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.sources import synth

from . import world
from .tracing import EventLog, Fold, Tracer


@dataclass
class Sample:
    wall_s: float
    pages: int          # pages crawled (crawls) / source pages scheduled
    urls: int           # raw links canonicalized and deduped
    error: str | None   # first mismatch against the reference


def _noop(df) -> None:
    """Run ``df`` to completion and drop the rows (no driver transfer)."""
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark) -> None:
    """Start the Python-worker pool once (pandas UDF and mapInPandas)."""
    n = spark.sparkContext.defaultParallelism

    @pandas_udf("long")
    def _same(s: pd.Series) -> pd.Series:
        return s

    def _ident(batches):
        yield from batches

    df = spark.range(0, n * 4, numPartitions=n)
    df.select(_same(F.col("id"))).count()
    df.mapInPandas(_ident, "id long").count()


def _parts(spark, n_rows: int) -> int:
    """The engine's batch-sized partition count (CrawlEngine._parts)."""
    return max(1, min(spark.sparkContext.defaultParallelism, -(-n_rows // 20_000)))


class Workload:
    name = ""
    WHOLE_SPAN = ""   # the span around one whole sample in a traced run

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work

    N_PAGES = 0
    CANONICAL_KEYS = False   # canonicalize the links while generating them

    def generate(self) -> None:
        """Write the seed's input tables; runs before the session starts."""
        self.params = world.graph_params(self.seed, self.N_PAGES)
        self.pages_pdf, self.links_pdf, self.keys = world.materialize_graph(
            self.params, self.work, canon=self.CANONICAL_KEYS)

    def load(self, spark) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        """Workload-specific warm-up before the first timed sample."""

    def run_once(self, spark, tracer: Tracer | None = None, meter=None) -> Sample:
        """One timed sample.  ``meter`` (a context manager) wraps exactly
        the timed region; the reference check runs after it closes."""
        raise NotImplementedError

    def trace_layers(self, spark, tracer: Tracer) -> None:
        """Replay each layer's public functions inside spans."""

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        raise NotImplementedError


# ------------------------------------------------------------ polite_resume

class _TimedStore(SnapshotStore):
    """SnapshotStore whose public calls are timed from outside the engine."""

    READS = ("read_one", "read_compacted", "last_commit", "clean_orphans")

    def __init__(self, root: str):
        super().__init__(root)
        self.calls: list[tuple[str, float, float]] = []   # (name, start, end)

    def _timed(self, name, fn, *a, **kw):
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            self.calls.append((name, t0, time.time()))

    def write(self, *a, **kw):
        return self._timed("write", super().write, *a, **kw)

    def write_json(self, *a, **kw):
        return self._timed("write_json", super().write_json, *a, **kw)

    def commit(self, *a, **kw):
        return self._timed("commit", super().commit, *a, **kw)

    def read_one(self, *a, **kw):
        return self._timed("read_one", super().read_one, *a, **kw)

    def read_compacted(self, *a, **kw):
        return self._timed("read_compacted", super().read_compacted, *a, **kw)

    def last_commit(self, *a, **kw):
        return self._timed("last_commit", super().last_commit, *a, **kw)

    def clean_orphans(self, *a, **kw):
        return self._timed("clean_orphans", super().clean_orphans, *a, **kw)


class PoliteResume(Workload):
    """BFS with a per-host politeness budget, 429/503 backoff and robots.txt,
    checkpointed to a fresh SnapshotStore, interrupted after superstep
    ``STOP_AT`` and finished by a fresh engine that resumes from the store."""

    name = "polite_resume"
    WHOLE_SPAN = "crawl"
    N_PAGES = 8_000
    N_SEEDS = 400
    MAX_DEPTH = 2
    BUDGET = 100
    STOP_AT = 1          # max_supersteps of the interrupted first engine
    MAX_SUPERSTEPS = 2   # the resumed engine's cap; every seed reaches it

    def _config(self, max_supersteps: int) -> CrawlConfig:
        return CrawlConfig(strategy="bfs", max_depth=self.MAX_DEPTH,
                           politeness_budget=self.BUDGET, backoff=True,
                           check_robots_txt=True, max_supersteps=max_supersteps)

    def load(self, spark) -> None:
        self.pages, self.links = world.read_graph(spark, self.work)
        self.robots_pdf = synth.gen_robots(self.params)
        self.politeness = spark.createDataFrame(synth.gen_politeness(self.params))
        self.seeds = world.crawl_seeds(self.params, self.N_SEEDS)

    def _spec(self, max_supersteps: int) -> ScheduleSpec:
        return ScheduleSpec(strategy="bfs", max_depth=self.MAX_DEPTH,
                            politeness_budget=self.BUDGET, backoff=True,
                            max_supersteps=max_supersteps)

    def reference(self) -> None:
        self.ref = world.crawl_reference(self.pages_pdf, self.links_pdf, self.seeds,
                                         self._spec(self.MAX_SUPERSTEPS),
                                         robots_pdf=self.robots_pdf)

    def _engine(self, spark, max_supersteps: int, store: SnapshotStore) -> CrawlEngine:
        return CrawlEngine(spark, self.pages, self.links, self._config(max_supersteps),
                           robots_pdf=self.robots_pdf, politeness=self.politeness,
                           store=store)

    def run_once(self, spark, tracer: Tracer | None = None, meter=None) -> Sample:
        root = self.work / f"store-{time.monotonic_ns()}"
        store_cls = _TimedStore if tracer is not None else SnapshotStore
        span = tracer.span if tracer is not None else _no_span
        with meter or nullcontext(), span("crawl"):
            t0 = time.perf_counter()
            first_store = store_cls(str(root))
            with span("crawl.first"):
                first = self._engine(spark, self.STOP_AT, first_store).run(self.seeds)
            store = store_cls(str(root))
            with span("crawl.resume"):
                run = self._engine(spark, self.MAX_SUPERSTEPS, store).run(
                    self.seeds, resume=True)
                rows = run.results.select(*world.RESULT_KEY).collect()
            wall = time.perf_counter() - t0
        err = world.first_mismatch([tuple(r) for r in rows], self.ref.rows)
        if err is None:
            seen = {r["url"] for r in run.seen.collect()}
            if seen != self.ref.seen:
                err = (f"URL-seen set: {len(seen - self.ref.seen)} extra, "
                       f"{len(self.ref.seen - seen)} missing")
        if err is None and run.pages_crawled != self.ref.pages_crawled:
            err = f"pages_crawled {run.pages_crawled} != {self.ref.pages_crawled}"
        if tracer is not None:
            self.crawl_metrics = [m for m in first.metrics + run.metrics if "wall_ms" in m]
            self.store_calls = first_store.calls + store.calls
            self.store_bytes, self.store_files = _tree_size(root)
        shutil.rmtree(root, ignore_errors=True)
        return Sample(wall, self.ref.pages_crawled, self.ref.links_discovered, err)

    # ------------------------------------------------------------ replays
    def _replay_inputs(self, spark) -> None:
        """Materialize, before any span opens, the inputs of the superstep
        whose discovery handled the most candidates (from the reference)."""
        ref = self.ref
        per_step: dict[int, int] = {}
        for r in ref.results:
            if r["success"] and r["depth"] < self.MAX_DEPTH:
                per_step[r["superstep"]] = per_step.get(r["superstep"], 0) + len(
                    world.discovery_links(ref.graph, r))
        step = max(per_step, key=lambda s: (per_step[s], -s))
        self.replay_step = step
        cand = [
            (r["seq"], r["url"], pos, href)
            for r in sorted(ref.results, key=lambda r: r["seq"])
            if r["superstep"] == step and r["success"] and r["depth"] < self.MAX_DEPTH
            for pos, href in world.discovery_links(ref.graph, r)
        ]
        self.cand = spark.createDataFrame(
            pd.DataFrame(cand, columns=["parent_seq", "parent_url", "pos", "href"])
        ).cache()
        self.n_cand = self.cand.count()
        seen = sorted({r["url"] for r in ref.results if r["superstep"] <= step})
        self.seen_set = set(seen)
        self.seen_df = spark.createDataFrame(pd.DataFrame({"url": seen})).cache()
        self.seen_df.count()
        # the politeness/robots input: the deepest level's first attempts,
        # taken from the crawl run to completion — the frontier the budget
        # splits (the capped crawl never fetches the rows it deferred)
        full = world.crawl_reference(self.pages_pdf, self.links_pdf, self.seeds,
                                     self._spec(10_000), robots_pdf=self.robots_pdf)
        level = [r for r in full.results
                 if r["depth"] == self.MAX_DEPTH and r["attempt"] == 0]
        fk = [normalize_url_for_deep_crawl(r["url"], r["url"]) for r in level]
        self.level = spark.createDataFrame(pd.DataFrame({
            "url": [r["url"] for r in level],
            "parent": [r["parent"] for r in level],
            "depth": [r["depth"] for r in level],
            "seq": [r["seq"] for r in level],
            "fetch_key": fk,
            "host": [_host_of_py(u) for u in fk],
        })).cache()
        self.n_level = self.level.count()
        fetched = [r for r in ref.results if r["superstep"] == step]
        self.fetched = spark.createDataFrame(pd.DataFrame({
            "host": [r["host"] for r in fetched],
            "seq": [r["seq"] for r in fetched],
            "status_code": [r["status_code"] for r in fetched],
        })).cache()
        self.fetched.count()

    def trace_layers(self, spark, tracer: Tracer) -> None:
        self._replay_inputs(spark)
        parts = _parts(spark, self.n_cand)
        jc = join_and_canonicalize_udf(F.col("href"), F.col("parent_url"))
        canon_expr = self.cand.withColumn("__jc", jc).select(
            "parent_seq", "pos", F.col("__jc.canon").alias("target")
        ).withColumn("url_hash", url_hash_col(F.col("target")))
        with tracer.span("canonical"):
            _noop(canon_expr)
        canon = canon_expr.filter(F.col("target").isNotNull()).cache()
        targets = [r["target"] for r in canon.select("target").collect()]

        bloom = BloomSidecar(spark, 1 << 20, 0.01, 32)   # the engine's defaults
        with tracer.span("seen.add"):
            bloom.add(self.seen_df, url_col="url")
            bloom.bits_df.count()
        with tracer.span("seen.probe"):
            flagged = bloom.prefilter(canon, "target", num_partitions=parts) \
                .localCheckpoint(eager=True)
        self.suspects = flagged.filter(F.col("maybe_seen")).count()
        seen_t = self.seen_df.select(F.col("url").alias("target"))
        with tracer.span("seen.antijoin"):
            self.suspect_new = flagged.filter(F.col("maybe_seen")).drop("maybe_seen") \
                .join(seen_t, "target", "left_anti").count()
        self.n_targets = len(targets)
        self.truly_new = sum(1 for t in targets if t not in self.seen_set)

        with tracer.span("politeness.slots"):
            _noop(with_host_slots(self.level, self.politeness, order_cols=["seq"]))
        with tracer.span("politeness.split"):
            within, deferred = split_host_budget(
                self.level, self.BUDGET, ["depth", "seq"], url_col="url")
            within.count()
            self.deferred = deferred.count()
        with tracer.span("politeness.fold"):
            _noop(fold_domain_state_df(
                empty_domain_state_df(spark), self.fetched, seed=42,
                superstep=self.replay_step, num_partitions=_parts(spark, self.n_level)))
        with tracer.span("robots"):
            gated = robots_gate(self.level, self.robots_pdf, url_col="fetch_key",
                                host_col="host")
            row = gated.agg(F.sum((~F.col("robots_allowed")).cast("long"))).collect()[0]
            self.denied = int(row[0] or 0)

        rn = F.row_number().over(Window.partitionBy("parent_seq").orderBy("pos"))
        ranked = canon.withColumn("rn", rn).localCheckpoint(eager=True)
        with tracer.span("dist.seq"):
            _noop(with_global_seq(ranked, ["parent_seq", "rn"], out_col="seq",
                                  start=0, num_partitions=parts))

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        m: dict[str, float] = {}
        crawl = tracer.get("crawl")
        fc = log.fold_span(crawl)
        steps = self.crawl_metrics
        walls = [s["wall_ms"] for s in steps]
        m["frontier.supersteps"] = len(steps)
        m["frontier.spark_jobs"] = fc.jobs
        m["frontier.jobs_per_superstep"] = fc.jobs / max(1, len(steps))
        m["frontier.unattributed_jobs"] = fc.unattributed_jobs
        m["frontier.job_gap_ms"] = crawl.ms - fc.busy_ms
        m["frontier.superstep_ms_p50"] = statistics.median(walls) if walls else 0
        m["frontier.superstep_ms_max"] = max(walls, default=0)
        m["frontier.popped_rows"] = sum(s["popped"] for s in steps)
        m["frontier.deferred_rows"] = sum(s["deferred"] for s in steps)
        for phase in ("split", "fetch", "discover", "results_wait"):
            m[f"frontier.phase_ms.{phase}"] = sum(s["phase_ms"][phase] for s in steps)

        m.update(_canonical_metrics(tracer.get("canonical"), log, self.n_cand))
        seen_spans = [tracer.get(n) for n in ("seen.add", "seen.probe", "seen.antijoin")]
        m["seen.candidates"] = self.n_targets
        m["seen.suspect_rows"] = self.suspects
        m["seen.bypass_frac"] = (self.n_targets - self.suspects) / max(1, self.n_targets)
        m["seen.fp_observed"] = self.suspect_new / max(1, self.truly_new)
        m["seen.add_ms"], m["seen.probe_ms"], m["seen.antijoin_ms"] = (
            s.ms for s in seen_spans)
        m["seen.shuffle_bytes"] = sum(log.fold_span(s).shuffle_write_bytes
                                      for s in seen_spans)

        m["politeness.rows"] = self.n_level
        m["politeness.deferred_rows"] = self.deferred
        m["politeness.slots_ms"] = tracer.get("politeness.slots").ms
        m["politeness.split_ms"] = tracer.get("politeness.split").ms
        m["politeness.fold_ms"] = tracer.get("politeness.fold").ms

        robots = tracer.get("robots")
        m["robots.rows"] = self.n_level
        m["robots.denied_rows"] = self.denied
        m["robots.ms"] = robots.ms
        m["robots.python_ms"] = log.fold_span(robots).python_run_ms

        seq = tracer.get("dist.seq")
        m["dist.seq_ms"] = seq.ms
        m["dist.seq_jobs"] = len(seq.job_ids)

        calls = self.store_calls
        resume = tracer.get("crawl.resume")
        first_write = min((c[1] for c in calls
                           if c[0] == "write" and c[1] * 1000 >= resume.start_ms),
                          default=resume.end_ms / 1000)
        m["checkpoint.commits"] = sum(1 for c in calls if c[0] == "commit")
        m["checkpoint.write_ms"] = 1000 * sum(
            c[2] - c[1] for c in calls if c[0] in ("write", "write_json", "commit"))
        m["checkpoint.bytes_written"] = self.store_bytes
        m["checkpoint.files_written"] = self.store_files
        m["checkpoint.restore_ms"] = 1000 * sum(
            c[2] - c[1] for c in calls
            if c[0] in _TimedStore.READS and resume.start_ms <= c[1] * 1000
            and c[1] < first_write)
        m["checkpoint.resume_s"] = resume.ms / 1000
        m.update(_spark_metrics(fc))
        return m


# ------------------------------------------------------- frontier_schedule

class FrontierSchedule(Workload):
    """One frontier superstep at volume: canonicalize → xxhash64 → in-batch
    dedup → exact seen anti-join (half the universe pre-seen) → freshness
    score → salted host slots, with the inputs of ``bench.frontier_schedule``."""

    name = "frontier_schedule"
    WHOLE_SPAN = "schedule"
    N_PAGES = 20_000
    CANONICAL_KEYS = True
    SALT_BUCKETS = 32

    def load(self, spark) -> None:
        self.pages, self.links = world.read_graph(spark, self.work)
        self.politeness = spark.createDataFrame(synth.gen_politeness(self.params))
        # the hot-host list is an input of the schedule step (the engine
        # derives it from the previous superstep), so it is computed here
        counts = self.links.groupBy(F.lower(host_of(F.col("href"))).alias("h")) \
            .count().collect()
        mean = sum(r["count"] for r in counts) / max(len(counts), 1)
        self.hot = [r["h"] for r in counts if r["count"] > 4 * mean and r["h"]]

    def reference(self) -> None:
        self.ref = world.schedule_reference(self.pages_pdf, self.links_pdf, self.keys)

    WARM_PASSES = 3

    def warm(self, spark) -> None:
        # untimed passes whose results are not counted: in a fresh JVM the
        # first pass runs about 1.7 times as long as a warm one, and the
        # second and third still 1.1–1.3 times, while the JIT catches up
        for _ in range(self.WARM_PASSES):
            self.run_once(spark)

    def _seen(self):
        return (
            self.pages
            .withColumn("pid", F.regexp_extract("url", r"p(\d{8})", 1).cast("long"))
            .filter(F.col("pid") % 2 == 0)
            .select(url_hash_col(F.col("url")).alias("url_hash"))
        )

    def _steps(self):
        """The schedule chain as (span name, step) pairs; each step maps the
        previous step's DataFrame to the next."""
        def canonical(links):
            cand = links.select(canonical_col(F.col("href"), F.col("src_url")).alias("url"),
                                "pos")
            return cand.withColumn("url_hash", url_hash_col(F.col("url"))).withColumn(
                "host", F.lower(host_of(F.col("url"))))

        def dedup(cand):
            return cand.groupBy("url_hash").agg(
                F.first("url").alias("url"), F.first("host").alias("host"),
                F.min("pos").alias("pos"))

        def antijoin(cand):
            return cand.join(self._seen(), "url_hash", "left_anti")

        def score(fresh):
            return fresh.withColumn("score", freshness_score(F.col("url"),
                                                             current_year=2024))

        def slots(fresh):
            return with_salted_host_slots(
                fresh, self.politeness, order_cols=[F.col("score").desc(), "url_hash"],
                hot_hosts=self.hot, salt_buckets=self.SALT_BUCKETS)

        return [("canonical", canonical), ("dedup", dedup), ("seen.antijoin", antijoin),
                ("score", score), ("politeness.slots", slots)]

    def _check(self, out: pd.DataFrame, wall: float) -> Sample:
        err = world.check_schedule(out, self.ref, self.hot, self.SALT_BUCKETS)
        return Sample(wall, self.ref.n_pages, self.ref.n_links, err)

    def run_once(self, spark, tracer: Tracer | None = None, meter=None) -> Sample:
        span = tracer.span if tracer is not None else _no_span
        with meter or nullcontext(), span("schedule"):
            t0 = time.perf_counter()
            df = self.links
            for _, step in self._steps():
                df = step(df)
            out = df.select("url_hash", "host", "host_rank").toPandas()
            wall = time.perf_counter() - t0
        return self._check(out, wall)

    def trace_layers(self, spark, tracer: Tracer) -> None:
        """The same chain, materialized between the operator calls so each
        operator gets its own span."""
        df = self.links
        for name, step in self._steps():
            with tracer.span(name):
                df = step(df).localCheckpoint(eager=True)
        self.n_scheduled = df.count()

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        m = _canonical_metrics(tracer.get("canonical"), log, self.ref.n_links)
        m["seen.antijoin_ms"] = tracer.get("seen.antijoin").ms
        m["politeness.rows"] = self.n_scheduled
        m["politeness.slots_ms"] = tracer.get("politeness.slots").ms
        m.update(_spark_metrics(log.fold_span(tracer.get("schedule"))))
        return m


# ----------------------------------------------------------------- helpers

def _no_span(_name: str):
    return nullcontext()


def _canonical_metrics(span, log: EventLog, rows: int) -> dict[str, float]:
    f = log.fold_span(span)
    return {"canonical.rows": rows, "canonical.ms": span.ms,
            "canonical.python_ms": f.python_run_ms,
            "canonical.python_bytes": f.python_bytes_sent}


def _spark_metrics(f: Fold) -> dict[str, float]:
    return {
        "spark.stages": f.stages,
        "spark.tasks": f.tasks,
        "spark.task_failures": f.task_failures,
        "spark.shuffle_write_bytes": f.shuffle_write_bytes,
        "spark.shuffle_read_bytes": f.shuffle_read_bytes,
        "spark.spill_bytes": f.spill_bytes,
        "spark.executor_cpu_ms": f.executor_cpu_ms,
        "spark.python_run_ms": f.python_run_ms,
        "spark.python_start_ms": f.python_start_ms,
        "spark.python_bytes_sent": f.python_bytes_sent,
    }


def _tree_size(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


WORKLOADS = {w.name: w for w in (PoliteResume, FrontierSchedule)}
