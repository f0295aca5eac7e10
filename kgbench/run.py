"""KG-construction benchmark: one command, named workloads, checked outputs.

    python3 kgbench/run.py --workload kg_build_dict --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout on local[<cores>] in this one driver
process. Inputs are generated from --seed. After untimed warm-up runs (JIT,
code generation, Python worker start), iterations are timed until --seconds
have passed and the workload's minimum count has run; each iteration's
output is checked untimed.

--trace 0 prints the end-to-end metrics; --trace 1 instead runs the
workload's layers one at a time (kgbench/trace.py), prints the per-layer
metrics and writes every span to .kgbench_work/trace-<workload>-<seed>.json.
The last stdout line is one JSON object: correct, attempted, failed and
metrics. The exit code is non-zero if any output check failed.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def _print(msg: str) -> None:
    print(msg, flush=True)


def start_session(name: str, work: str, trace: bool):
    from bioner_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # one run of either workload has ~150-175 distinct generated
        # classes, more than the default cache of 100 holds: every run
        # would compile them all again and the JIT would start over on the
        # new classes, a fixed cost whose size varied by ±15% between runs.
        # With room for them all, the timed runs reuse what the warm-up
        # compiled.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # get_spark's own option plus: JVM temp files inside the work dir,
        # no /tmp/hsperfdata file, and a heap of fixed capacity (initial =
        # maximum; not pre-touched). G1 otherwise resizes the heap at
        # moments that depend on timing, and both the GC load of an
        # iteration and its resident memory followed those resizes.
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name=f"kgbench-{name}", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until no process this run started is left."""
    from pyspark import SparkContext

    from kgbench.env import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while left := descendants(os.getpid())[1:]:
        if time.time() > deadline:
            for pid in left:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


class Loop:
    """Runs and checks iterations, counting attempts and failures."""

    def __init__(self, wl, work: str):
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.fingerprints: list[str] = []
        self._n = 0

    def warmup(self) -> None:
        """The workload's untimed warm-up: `warmup_runs` full runs, so the
        timed ones find the generated classes compiled and the JIT mostly
        settled. A run that raises counts as a failed attempt."""
        for k in range(self.wl.warmup_runs):
            out_dir = os.path.join(self.work, f"warmup-{k}")
            try:
                self.wl.finish(self.wl.run(out_dir))
            except Exception:
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

    def iteration(self, full_check: bool = False, measure=None) -> float | None:
        """One run of the workload; returns its wall seconds, or None if it
        raised or its output did not check out."""
        from kgbench.env import PeakMemory, tree_cpu_s

        out_dir = os.path.join(self.work, f"out-{self._n}")
        self._n += 1
        self.attempted += 1
        out = None
        try:
            # a full collection first, so the heap the JVM holds at the
            # start does not depend on when the previous iteration's
            # garbage was last collected
            gc.collect()
            self.wl.spark._jvm.System.gc()
            cpu0 = tree_cpu_s(os.getpid())
            with PeakMemory(os.getpid()) as mem:
                t0 = time.perf_counter()
                out = self.wl.run(out_dir)
                wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            ok, detail = self.wl.check(out, full=full_check)
        except Exception:
            traceback.print_exc()
            ok, detail = False, "raised"
        finally:
            if out is not None:
                self.wl.finish(out)
            shutil.rmtree(out_dir, ignore_errors=True)
        if not ok:
            self.failed += 1
            print(f"kgbench: {self.wl.name} output check failed: {detail}", file=sys.stderr)
            return None
        print(f"kgbench: {self.wl.name} iteration {self._n - 1}: {wall:.3f} s, "
              f"cpu {cpu:.1f} s, peak {mem.peak_mb:.0f} MB, "
              f"checked in {time.perf_counter() - t0 - wall:.2f} s",
              file=sys.stderr, flush=True)
        self.fingerprints.append(detail)
        if measure is not None:
            measure.append((wall, cpu, mem.peak_mb))
        return wall


def measure(spark, wl, work: str, seconds: float) -> tuple[Loop, dict]:
    """Untraced run: warm-up, then timed iterations for `seconds` and at
    least the workload's `min_timed`; each metric is the median over the
    timed iterations."""
    loop = Loop(wl, work)
    spark.sparkContext.setJobGroup("warmup", f"{wl.name} warm-up")
    loop.warmup()
    spark.sparkContext.setJobGroup("timed", f"{wl.name} timed iterations")
    samples: list[tuple[float, float, float]] = []
    t_start = time.perf_counter()
    for n in itertools.count(1):
        loop.iteration(measure=samples)
        if n >= wl.min_timed and time.perf_counter() - t_start >= seconds:
            break
    if not samples:
        return loop, {}
    wall, cpu, peak = (statistics.median(col) for col in zip(*samples))
    metrics = {"wall_s": wall, "docs_per_s": wl.n_docs / wall, "cpu_s": cpu, "peak_pss_mb": peak}
    return loop, metrics


def traced(spark, wl, work: str, run_id: str):
    """Traced run: warm-up and two untraced baseline iterations, then the
    layer walk; the second (warm, like the walk) iteration is the untraced
    wall. Per-layer metrics need the event log, read after the session
    stops (see main)."""
    from kgbench.trace import Tracer

    loop = Loop(wl, work)
    spark.sparkContext.setJobGroup("warmup", f"{wl.name} warm-up")
    loop.warmup()
    spark.sparkContext.setJobGroup("untraced", f"{wl.name} untraced baseline")
    base: list[tuple[float, float, float]] = []
    loop.iteration(full_check=True, measure=base)
    loop.iteration(measure=base)
    tr = Tracer(spark, run_id)
    out_dir = os.path.join(work, "traced")
    loop.attempted += 1
    out = None
    try:
        with tr.span("walk"):
            out = wl.walk(tr, out_dir)
        ok, detail = wl.check(out)
        if ok and loop.fingerprints and detail != loop.fingerprints[0]:
            ok, detail = False, f"traced output {detail} != untraced {loop.fingerprints[0]}"
    except Exception:
        traceback.print_exc()
        ok, detail = False, "raised"
    finally:
        tr.release()
    if not ok:
        loop.failed += 1
        print(f"kgbench: traced {wl.name} output check failed: {detail}", file=sys.stderr)
    untraced_wall = base[-1][0] if base else float("nan")
    return loop, untraced_wall, tr


def layer_metrics(wl_layers, all_layers, tr, stats: dict, untraced_wall: float) -> dict:
    """The per-layer metric set of BENCHMARK.json (per_layer_names). A
    layer the workload bypasses ran no job and reads 0. Coverage sums the
    self times of the layers of the timed run only."""
    self_t = tr.self_times()
    m: dict[str, float] = {}
    for layer in all_layers:
        s = stats.get(layer, {})
        m[f"{layer}.wall_s"] = self_t.get(layer, 0.0)
        for key in ("task_s", "jobs", "shuffle_write_mb", "spill_mb"):
            m[f"{layer}.{key}"] = s.get(key, 0)
        m[f"{layer}.rows_out"] = tr.rows_out.get(layer, 0)
        m[f"{layer}.task_skew"] = s.get("task_skew", 0.0)
    for key in EXTRA_LAYER_METRICS:
        m[key] = tr.extra.get(key, 0.0)
    m["trace.coverage"] = sum(self_t.get(layer, 0.0) for layer in wl_layers) / untraced_wall
    m["trace.overhead_s"] = tr.total("walk") - untraced_wall
    return m


LAYER_METRICS = ("wall_s", "task_s", "jobs", "shuffle_write_mb", "spill_mb", "rows_out", "task_skew")
EXTRA_LAYER_METRICS = (
    "extract.python_s",
    "tokenizer.cached_mb",
    "linking.gazetteer.kept_ratio",
    "ner.tag.python_s",
    "kg_analytics.pagerank.round_s",
)

UNITS = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "cpu_s": "s", "peak_pss_mb": "MB",
    "task_s": "s", "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "rows_out": "count", "task_skew": "ratio", "python_s": "s", "kept_ratio": "ratio",
    "round_s": "s", "coverage": "ratio", "overhead_s": "s", "cached_mb": "MB",
}
HIGHER_IS_BETTER = {"kept_ratio", "coverage"}


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[-1]]


def per_layer_names() -> list[str]:
    """Every metric a traced run reports, in BENCHMARK.json's order."""
    from kgbench.workloads import LAYERS

    return [
        *(f"{layer}.{key}" for layer in LAYERS for key in LAYER_METRICS),
        *EXTRA_LAYER_METRICS,
        "trace.coverage",
        "trace.overhead_s",
    ]


def per_layer_spec() -> list[dict]:
    """BENCHMARK.json's per_layer list, generated from per_layer_names."""
    return [
        {
            "name": n,
            "unit": unit_of(n),
            "better": "higher" if n.rsplit(".", 1)[-1] in HIGHER_IS_BETTER else "lower",
        }
        for n in per_layer_names()
    ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests use a tiny scale)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".kgbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(ap, args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(ap, args, base: str, work: str) -> int:
    from kgbench.env import box_cpus, fit_environment, spin_probe

    t_proc = time.perf_counter()
    settings = fit_environment(ROOT, work)
    import bioner_spark  # noqa: F401  (absent → ImportError, no result)

    from kgbench.workloads import LAYERS, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    probe = spin_probe(box_cpus())
    _print("# env " + json.dumps({**settings, **probe}))

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work, args.scale)
        setups = []
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        print(f"kgbench: session {session_s:.2f} s, input set-ups {setups}", file=sys.stderr)
        setup_s = session_s + statistics.median(setups)
        if args.trace:
            run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
            loop, untraced_wall, tr = traced(spark, wl, work, run_id)
        else:
            loop, metrics = measure(spark, wl, work, args.seconds)
            metrics = {"setup_s": setup_s, **metrics}
        wl.release()
    finally:
        if spark is not None:
            stop_session(spark)

    if args.trace:
        from kgbench.trace import event_log_file, layer_stats

        with open(event_log_file(os.path.join(work, "events"))) as f:
            stats = layer_stats(f)
        metrics = layer_metrics(wl.layers, LAYERS, tr, stats, untraced_wall)
        path = os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json")
        tr.dump(path, {"env": {**settings, **probe}, "untraced_wall_s": untraced_wall,
                       "layer_stats": stats, "metrics": metrics})
        _print(f"# spans written to {os.path.relpath(path, ROOT)}")
        for layer in (la for la in LAYERS if metrics[la + ".jobs"]):
            _print(f"# {layer:<24} wall {metrics[layer + '.wall_s']:8.3f} s  task "
                   f"{metrics[layer + '.task_s']:8.3f} s  jobs {metrics[layer + '.jobs']:3d}  "
                   f"rows {metrics[layer + '.rows_out']}")
    else:
        for k, v in metrics.items():
            _print(f"# {args.workload} {k} = {v:.6g} {unit_of(k)}")
        _print(f"# {args.workload} error_rate = {loop.failed / loop.attempted:.6g} "
               f"({loop.failed}/{loop.attempted} iterations)")
    _print(f"# total {time.perf_counter() - t_proc:.1f} s")
    correct = loop.failed == 0 and (args.trace or "wall_s" in metrics)
    result = {
        "correct": bool(correct),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    _print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
