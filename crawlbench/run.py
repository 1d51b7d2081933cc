"""Crawl-engine benchmark.

Run from the root of the repository::

    python3 crawlbench/run.py --workload polite_resume --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload with tracing off and prints every
end-to-end metric; ``--trace 1`` starts a session with Spark's event log
on, runs the workload once to warm up, once without and once with spans
around the engine calls, replays each layer, and prints every per-layer
metric.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name → value and unit).  The lines before it repeat each
metric with its sample count for a human reader.

See ``crawlbench/DESIGN.md`` for the workloads, the metrics and what each
layer metric is expected to move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_SEED = 1

END_TO_END = {
    "wall_s": "s",
    "pages_per_s": "pages/s",
    "urls_per_s": "links/s",
    "cpu_s": "s",
    "setup_s": "s",
}


def _per_layer() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ----------------------------------------------------------------- session

class Session:
    """The benchmark's SparkSession, confined to a work directory.

    Spark's scratch space, the JVM temp dir and (when traced) the event log
    all live under ``work``; ``stop`` ends the SparkContext, shuts the JVM
    down and waits until the JVM and its Python workers have exited."""

    def __init__(self, work: Path, event_log: bool):
        from crawl4ai_spark.session import get_spark

        self.work = work
        for d in ("tmp", "spark-local", "eventlog"):
            (work / d).mkdir(parents=True, exist_ok=True)
        # the engine's own heap and JIT settings; only file locations differ
        conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # statusTracker must still know every job of the run at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        n = len(os.sched_getaffinity(0))
        self.master = f"local[{n}]"
        self.spark = get_spark(app_name="crawlbench", master=self.master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        from pyspark import SparkContext
        from crawlbench.procstat import tree_stats, wait_gone

        gateway = SparkContext._gateway
        # the JVM and the Python workers it forked; once the JVM exits the
        # workers are no longer our descendants, so remember them now
        spawned = set(tree_stats(gateway.proc.pid)) if gateway is not None else set()
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if not wait_gone(spawned):
            print("crawlbench: Spark processes still alive after stop", file=sys.stderr)


def _ms_since(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000


SETUP_REPEATS = 3


def set_up(workload, session_factory) -> tuple[Session, dict[str, float]]:
    """Generate the inputs, start the session and prepare the workload;
    returns (session, timings in ms).

    Input generation is timed but is not part of set-up: it stands in for
    tables that already exist.  The JVM starts once; reading the inputs and
    computing the reference are repeated ``SETUP_REPEATS`` times and timed
    by their median.  The workload's own warm-up pass runs last and is
    not part of set-up."""
    from crawlbench.workloads import warm_python_workers

    t = {}
    t0 = time.perf_counter()
    workload.generate()
    t["inputs.generate_ms"] = _ms_since(t0)
    t0 = time.perf_counter()
    session = session_factory()
    t["session.start_ms"] = _ms_since(t0)
    spark = session.spark
    try:
        t0 = time.perf_counter()
        warm_python_workers(spark)
        t["session.warm_ms"] = _ms_since(t0)
        loads, refs = [], []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.load(spark)
            loads.append(_ms_since(t0))
            t0 = time.perf_counter()
            workload.reference()
            refs.append(_ms_since(t0))
        t["inputs.load_ms"] = statistics.median(loads)
        t["reference.ms"] = statistics.median(refs)
        t0 = time.perf_counter()
        workload.warm(spark)
        t["workload.warm_ms"] = _ms_since(t0)
    except BaseException:
        session.stop()
        raise
    return session, t


def setup_s(t: dict[str, float]) -> float:
    return (t["session.start_ms"] + t["session.warm_ms"] + t["inputs.load_ms"]
            + t["reference.ms"]) / 1000


# ------------------------------------------------------------------- modes

def timed(args, workload, work: Path, started: float, report: list[str]) -> dict:
    from crawlbench.procstat import TreeWindow

    session, t = set_up(workload, lambda: Session(work, event_log=False))
    rows, attempted, failed = [], 0, 0
    try:
        deadline = time.monotonic() + args.seconds
        while True:
            attempted += 1
            t0 = time.monotonic()
            meter = TreeWindow()
            try:
                s = workload.run_once(session.spark, meter=meter)
            except Exception:
                traceback.print_exc()
                failed += 1
            else:
                if s.error is not None:
                    print(f"mismatch in sample {attempted}: {s.error}", file=sys.stderr)
                    failed += 1
                rows.append((s, meter))
            now = time.monotonic()
            # stop at the deadline, and never let another sample run past
            # the run's time limit
            if now >= deadline or now - started + (now - t0) > 140:
                break
    finally:
        session.stop()
    n = len(rows)

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    metrics = {
        "wall_s": med([s.wall_s for s, _ in rows]),
        "pages_per_s": med([s.pages / s.wall_s for s, _ in rows]),
        "urls_per_s": med([s.urls / s.wall_s for s, _ in rows]),
        "cpu_s": med([m.cpu_s for _, m in rows]),
        "setup_s": setup_s(t),
    }
    for name, unit in END_TO_END.items():
        count = (f"one session start + median of n={SETUP_REPEATS} loads"
                 if name == "setup_s" else f"median of n={n}")
        report.append(f"{name:14s} {metrics[name]:14.4f} {unit:8s} {count}")
    report.append(f"{'failed_frac':14s} {failed / attempted:14.4f} {'ratio':8s} "
                  f"{failed} of {attempted} samples")
    # printed, not in the result: under the engine's 8g G1 heap the peak
    # follows the JVM's heap sizing and varies too much from run to run
    report.append(f"{'peak_rss_mb':14s} {med([m.peak_rss_mb for _, m in rows]):14.4f} "
                  f"{'MB':8s} median of n={n}")
    report.append("sample wall_s: " + " ".join(f"{s.wall_s:.3f}" for s, _ in rows))
    report.append(f"host: nproc={os.cpu_count()} master={session.master}; set-up ms: "
                  + " ".join(f"{k}={v:.0f}" for k, v in t.items()))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}}


def traced(args, workload, work: Path, report: list[str]) -> dict:
    from crawlbench.tracing import EventLog, Tracer

    session, t = set_up(workload, lambda: Session(work, event_log=True))
    try:
        # one untimed pass, then the untraced and the traced sample, both
        # warm and in this event-logged JVM: the engine's UDF objects keep
        # the first JVM they were used with, so a process cannot start a
        # second one, and a child process would double the run's time
        workload.run_once(session.spark)
        untraced = workload.run_once(session.spark)
        tracer = Tracer(session.spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        s = workload.run_once(session.spark, tracer=tracer)
        errors = [e for e in (untraced.error, s.error) if e is not None]
        workload.trace_layers(session.spark, tracer)
    finally:
        session.stop()   # flushes and closes the event log
    log = EventLog.from_dir(work / "eventlog")
    whole = tracer.get(workload.WHOLE_SPAN)
    fold = log.fold_span(whole)
    if fold.jobs != len(whole.job_ids):
        errors.append(f"event-log fold found {fold.jobs} jobs in span {whole.name!r}, "
                      f"statusTracker {len(whole.job_ids)}")
    report.append(f"jobs by call site in {whole.name!r}: " + ", ".join(
        f"{site}={n}" for site, n in fold.engine_sites().most_common()))
    out_dir = ROOT / ".crawlbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.json")

    metrics = workload.layer_metrics(tracer, log)
    metrics.update({k: t[k] for k in ("session.start_ms", "session.warm_ms",
                                       "inputs.load_ms", "reference.ms")})
    metrics["trace.overhead_s"] = whole.ms / 1000 - untraced.wall_s
    units = _per_layer()
    for e in errors:
        print(f"traced run: {e}", file=sys.stderr)
    for name in units:
        if name in metrics:
            report.append(f"{name:34s} {metrics[name]:16.3f} {units[name]}")
        else:
            report.append(f"{name:34s} {'n/a':>16s} (not on this workload's path)")
    return {"correct": not errors, "attempted": 1, "failed": int(bool(errors)),
            "metrics": {k: {"value": float(metrics.get(k, 0)), "unit": u}
                        for k, u in units.items()}}


def main(argv: list[str] | None = None) -> int:
    started = time.monotonic()
    args = _parse(argv)
    if not (ROOT / "crawl4ai_spark").is_dir():
        print(f"crawlbench: no crawl4ai_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from crawlbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".crawlbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Python workers import the engine from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    report: list[str] = [f"crawlbench {args.workload} seed={args.seed} trace={args.trace}"]
    try:
        workload = WORKLOADS[args.workload](args.seed, work)
        if args.trace:
            result = traced(args, workload, work, report)
        else:
            result = timed(args, workload, work, started, report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
