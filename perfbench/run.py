"""Benchmark of the entity-matching package: one workload per invocation.

    python3 perfbench/run.py --workload em_chain --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs the workload on
``local[<cores>]`` as a closed loop with one client: each timed run is one
complete job, started after the previous one finished.

1. Set-up: start the session, write the seeded inputs, compute what the
   checks reuse, and make ``WARMUP_RUNS`` untimed warm-up runs.
2. Before every run: ``release_cached()``, ``spark.catalog.clearCache()``,
   a JVM GC, then the inputs are read and persisted again.
3. Timed runs until their total reaches ``--seconds``; each run's outputs
   are checked after its clock stopped.

``--trace 0`` reports the end-to-end metrics: medians over the timed runs.
``--trace 1`` also runs the above, then restarts the session with Spark's
event log on and makes one untimed warm-up run in it; then, with a job group
per span, it repeats the set-up work that has spans of its own (em_chain's
training) and makes one traced run. It reports the per-layer metrics of
these spans and the tracing overhead: the traced run's time minus the
untraced median.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is a JSON object with each reported median's sample count, and the lines
before that are a human summary. Everything written goes under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import eventlog  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402  (imports the package)

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WARMUP_RUNS = 1
#: a process whose runs keep raising stops after this many failures
MAX_FAILED = 3
#: spans that also report spill and GC
HEAVY_SPANS = ("block", "match", "cluster")


def start_session(out: Path, cores: int, event_log: Path | None = None):
    from entityblockingbysimilarityjoins_spark.session import get_spark

    tmp = out / "tmp"
    conf = {
        "spark.driver.memory": "4g",
        # GC threads capped at the task slots, as on a node with this many cores
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} "
            f"-Djava.io.tmpdir={tmp} -Djava.net.preferIPv6Addresses=false"),
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(out / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextlib.contextmanager
def session(out: Path, cores: int, event_log: Path | None = None):
    """A session that is stopped on exit; the JVM outlives it for the next."""
    spark = start_session(out, cores, event_log)
    try:
        yield spark
    finally:
        spark.stop()


def stop_jvm() -> None:
    """End the JVM this process started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def reset(spark) -> None:
    from entityblockingbysimilarityjoins_spark.operators.cache import release_cached

    release_cached()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


class Loop:
    """Runs a workload and counts attempts, failures and timings."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = self.failed = 0
        self.load_s: list[float] = []
        self.outs: list[dict] = []

    def once(self, tracer) -> tuple[float | None, bool]:
        """Load the inputs, run once, check; -> (the run's wall seconds, None
        if it raised; whether it passed its checks)."""
        reset(self.wl.spark)
        t = time.perf_counter()
        self.wl.load()
        self.load_s.append(time.perf_counter() - t)
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = self.wl.run(tracer)
            run_s = time.perf_counter() - t
            out = self.wl.evaluate(out)
            bad = self.wl.check(out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, False
        if bad:
            print(f"check failed: {'; '.join(bad)}", file=sys.stderr)
            self.failed += 1
        self.outs.append(out)
        return run_s, not bad


def measure(name: str, seed: int, seconds: float, trace: bool, out: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": str(out / "tmp"),
    })
    (out / "tmp").mkdir(parents=True, exist_ok=True)

    t = time.perf_counter()
    with session(out, cores) as spark:
        start_s = time.perf_counter() - t
        wl = WORKLOADS[name](spark, seed, out)
        t = time.perf_counter()
        wl.generate()
        wl.prepare()
        once_s = time.perf_counter() - t
        loop = Loop(wl)
        t = time.perf_counter()
        for _ in range(WARMUP_RUNS):
            loop.once(NullTracer())
        warm_s = time.perf_counter() - t
        run_s: list[float] = []
        while sum(run_s) < seconds and loop.failed < MAX_FAILED:
            if (dt := loop.once(NullTracer())[0]) is not None:
                run_s.append(dt)
    if not run_s:
        raise RuntimeError(f"{name}: every run failed")
    setup_s = start_s + once_s + warm_s
    print(f"{name} seed={seed} cores={cores} records={wl.records}: setup_s={setup_s:.2f} "
          f"(start {start_s:.2f}, inputs+prepare {once_s:.2f}, "
          f"{WARMUP_RUNS} warm-up runs with their loads {warm_s:.2f}); "
          f"load median {statistics.median(loop.load_s):.2f}; run_s median of {len(run_s)}: "
          f"{statistics.median(run_s):.3f} {[round(x, 3) for x in run_s]}")

    def median_of(key: str) -> float:
        return statistics.median(o[key] for o in loop.outs)

    run_median = statistics.median(run_s)
    e2e = {
        "setup_s": setup_s,
        "run_s": run_median,
        "records_per_s": wl.records / run_median,
        "match_f1": median_of("match_f1"),
        "blocking_recall": median_of("blocking_recall"),
        "success_rate": 1.0 - loop.failed / loop.attempted,
    }
    # how many values each reported figure is the median of
    n_outs = len(loop.outs) - WARMUP_RUNS
    samples = {"setup_s": 1, "run_s": len(run_s), "records_per_s": len(run_s),
               "match_f1": n_outs, "blocking_recall": n_outs, "success_rate": loop.attempted}
    result = {"loop": loop, "e2e": e2e, "samples": samples}
    if not trace:
        return result

    log_dir = out / "eventlog"
    with session(out, cores, event_log=log_dir) as spark:  # the log is complete on exit
        wl.spark = spark
        # the restarted session's warm-up: its Python workers and caches are new
        loop.once(NullTracer())
        tracer = Tracer(spark.sparkContext)
        wl.prepare(tracer)  # set-up work with spans of its own is traced too
        traced_s, passed = loop.once(tracer)
    if traced_s is None or not passed:
        raise RuntimeError(f"{name}: the traced run failed")
    by_span = eventlog.span_metrics(eventlog.read_events(log_dir), tracer.spans)
    if missing := set(wl.SPANS) - set(by_span):
        raise RuntimeError(f"{name}: the traced run opened no span {sorted(missing)}")
    layer = {}
    for span in wl.SPANS:
        keys = ("wall_s", "task_s", "driver_s", "shuffle_bytes", "jobs")
        if span in HEAVY_SPANS:
            keys += ("spill_bytes", "gc_s")
        layer.update({f"{span}.{k}": by_span[span][k] for k in keys})
    layer.update(wl.layer_metrics(loop.outs[-1], by_span))
    layer["trace.run_s"] = traced_s
    layer["trace.overhead_s"] = traced_s - run_median
    result.update(layer=layer, spans=[vars(s) for s in tracer.spans])
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out = HERE / "out" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        res = measure(args.workload, args.seed, args.seconds, bool(args.trace), out)
    finally:
        stop_jvm()
        shutil.rmtree(out, ignore_errors=True)

    if args.trace:
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        if unlisted := sorted(set(res["layer"]) - set(units)):
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {unlisted}")
        # another workload's spans read 0: this workload opens none of them
        metrics = {n: {"value": res["layer"].get(n, 0), "unit": u} for n, u in units.items()}
        samples = dict.fromkeys(res["layer"], 1)
        trace_file = HERE / "out" / "traces" / f"{args.workload}-s{args.seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps({"e2e": res["e2e"], "layer": res["layer"],
                                          "spans": res["spans"]}, indent=1))
        print(f"trace: {trace_file.relative_to(ROOT)}; traced run_s "
              f"{res['layer']['trace.run_s']:.3f}, overhead "
              f"{res['layer']['trace.overhead_s']:+.3f} s")
    else:
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in units.items()}
        samples = res["samples"]
    loop = res["loop"]
    print(json.dumps({"samples": samples}))
    sys.stdout.flush()
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
