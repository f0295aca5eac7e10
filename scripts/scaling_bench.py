"""N→4N scaling harness: one spark-submit payload at two executor counts.

BASELINE.json north_rule requires ≥0.8 throughput scaling efficiency between
cluster sizes N and 4N executors. On one box the stand-in is the SAME
`spark-submit --py-files` job on the SAME input at local-cluster[N,1,m] and
local-cluster[4N,1,m]: N separate single-core executor JVMs, each with its
own heap and GC and a real shuffle between processes. (local[N] threads
share one heap; measured, that mode's allocator/GC contention inverts
scaling for object-heavy stages.) The harness reports throughput at both
levels and efficiency = (throughput_4N / throughput_N) / (4N / N).

Every run also explains itself. Each payload tags its timed section's jobs
with the job group `timed`, and every spark-submit records a plain event
log. From the best trial's log of each level the JSON line gets `stages`
(per stage name in the timed group: wall_s, task_s, cpu_s, gc_s,
shuffle_mb, spill_mb, tasks) and `no_stage_s`, the time between the
group's first job start and last job end when no stage ran: driver-side
serial work. At the top level it gets `fixed_s` and `parallel_s`, the fit
of the two timed walls to T(N) = F + P/N. Flat task_s with a longer wall
at 4N points to the box (the executors share its vCPUs); growing task_s
points to the engine.

Workloads (--workload): payload script, input, throughput key.

  kg         scripts/kg_job.py --tagger dict   synthetic web pages   docs_per_sec
  neural     scripts/kg_job.py --tagger neural synthetic web pages   docs_per_sec
  train      scripts/train_job.py              synthetic sentences   train_sentences_per_sec
  analytics  scripts/analytics_job.py          skewed triples table  triples_per_sec

Usage:
    python scripts/scaling_bench.py --workload kg --cores 1 4
    python scripts/scaling_bench.py --workload neural --n-docs 16000
    python scripts/scaling_bench.py --workload train --n-sentences 8192
    python scripts/scaling_bench.py --workload analytics --n-edges 2000000

Memory fits the box: the driver and every executor at the larger level get
the same heap, min(24g, half of physical RAM / (4N + 1)), the rule
`session.get_spark` uses for its default driver memory, and the smaller
level reuses it. Each level reports its best (highest-throughput) of
--trials runs: this VM's vCPU scheduling is jittery (the same 8-executor
job measured 187 s and 307 s back to back), and jitter only ever slows a
run. Inputs are generated once per size under $SPARK_GRAFT_SCALING_DIR
(default /tmp/bioner_scaling), event logs go to its events/<N>_<trial>
dirs, and one JSON summary goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import zipfile
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/bioner_scaling")
sys.path.insert(0, REPO)


def _write_pages(n_docs: int, pages_path: str, alias_path: str) -> None:
    from bioner_spark.corpus import alias_dict_spark_df, generate, pages_spark_df
    from bioner_spark.session import get_spark

    spark = get_spark(app_name="scaling_prep")
    # sent_range (20, 60): realistic web-page weight — ~40 sentences/doc —
    # so the measured job is extraction/tagging compute, not row plumbing
    corpus = generate(n_docs=n_docs, giant_doc_sentences=400, sent_range=(20, 60),
                      with_gold=False)
    pages_spark_df(spark, corpus).repartition(32).write.mode("overwrite").parquet(pages_path)
    alias_dict_spark_df(spark, corpus).coalesce(1).write.mode("overwrite").parquet(alias_path)
    spark.stop()


def prepare_pages(n_docs: int) -> tuple[str, str]:
    pages_path = f"{WORK}/input/pages"
    alias_path = f"{WORK}/input/alias"
    stamp = f"{WORK}/input/STAMP_{n_docs}_v2"
    if os.path.exists(stamp):
        return pages_path, alias_path
    shutil.rmtree(f"{WORK}/input", ignore_errors=True)
    # in a child process, so the prep JVM and its heap end before the
    # payloads' JVMs start
    child = multiprocessing.get_context("spawn").Process(
        target=_write_pages, args=(n_docs, pages_path, alias_path))
    child.start()
    child.join()
    if child.exitcode:
        raise RuntimeError(f"page prep exited with {child.exitcode}")
    open(stamp, "w").close()
    return pages_path, alias_path


def prepare_triples(n_ent: int, n_edges: int) -> str:
    from scripts.verify_kg_scale import SEED, gen_triples

    os.makedirs(f"{WORK}/triples", exist_ok=True)
    path = f"{WORK}/triples/triples_{n_ent}x{n_edges}_s{SEED}.parquet"
    if not os.path.exists(path):
        gen_triples(path, n_ent=n_ent, n_edges=n_edges, seed=SEED)
    return path


def make_zip() -> str:
    zpath = f"{WORK}/bioner_spark.zip"
    os.makedirs(WORK, exist_ok=True)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "bioner_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def parse_metrics_line(proc, marker: str, context: str) -> dict:
    """Find the one JSON metrics line containing `marker` in a completed
    subprocess's stdout (shared with scripts/bench_bands.py)."""
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and marker in line:
            return json.loads(line)
    raise RuntimeError(
        f"no metrics line ({marker}) from {context} "
        f"(returncode {proc.returncode}):\n"
        f"stdout:\n{proc.stdout[-3000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )


# workload → payload script, throughput key, and the timed wall behind it
PAYLOADS = {
    "kg": ("kg_job.py", "docs_per_sec", "pipeline_sec"),
    "neural": ("kg_job.py", "docs_per_sec", "pipeline_sec"),
    "train": ("train_job.py", "train_sentences_per_sec", "best_epoch_sec"),
    "analytics": ("analytics_job.py", "triples_per_sec", "analytics_sec"),
}


def payload(args) -> tuple[list[str], list[str]]:
    """The workload's payload arguments (with `{out}` and `{n}` filled per
    run) and its extra spark conf. Prepares the input once."""
    if args.workload in ("kg", "neural"):
        args.n_docs = args.n_docs or (100_000 if args.workload == "kg" else 16_000)
        pages, alias = prepare_pages(args.n_docs)
        return ["--input", pages, "--alias", alias, "--output", "{out}",
                "--n-buckets", "32",
                "--tagger", "dict" if args.workload == "kg" else "neural"], []
    if args.workload == "train":
        argv = ["--n-sentences", str(args.n_sentences), "--batch", str(args.batch),
                "--epochs", str(args.epochs), "--n-shards", "{n}"]
        if args.batch_norm:
            argv.append("--batch-norm")
        return argv, []
    triples = prepare_triples(args.n_ent, args.n_edges)
    # 96 shuffle partitions at both levels: the fixed-cost amortization
    # kg_job's own floor gives the pipeline (a core-count-sized shuffle
    # under-splits the smaller level); a later --conf overrides it
    return (["--triples", triples, "--out", "{out}"],
            ["spark.sql.shuffle.partitions=96"])


def stage_report(lines) -> dict:
    """Event-log JSON lines → the per-stage evidence of the job group
    `timed`, which each payload sets around its timed section.

    `stages` maps each stage name (call site reduced to the file name) to
    wall_s (Submission → Completion, summed over a stage's attempts, as
    its task metrics sum over all attempts), task_s (executor run time),
    cpu_s (executor CPU time), gc_s, shuffle_mb (read + written), spill_mb
    (memory + disk) and tasks. `no_stage_s` is the part of the window from
    the group's first job submission to its last job completion that no
    stage attempt covers."""
    group_jobs: set[int] = set()
    group_stages: set[int] = set()
    start, end = float("inf"), 0
    names: dict[int, str] = {}
    spans: list[tuple[int, int]] = []
    stats: dict[int, dict] = defaultdict(lambda: dict.fromkeys(
        ("wall_s", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks"), 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.jobGroup.id") == "timed":
                group_jobs.add(ev["Job ID"])
                group_stages.update(ev["Stage IDs"])
                start = min(start, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in group_jobs:
            end = max(end, ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            if sid in group_stages and si.get("Submission Time") and si.get("Completion Time"):
                name, _, site = si["Stage Name"].partition(" at ")
                names[sid] = f"{name} at {os.path.basename(site)}" if site else name
                spans.append((si["Submission Time"], si["Completion Time"]))
                stats[sid]["wall_s"] += (si["Completion Time"] - si["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in group_stages:
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            s = stats[ev["Stage ID"]]
            s["task_s"] += m.get("Executor Run Time", 0) / 1e3
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            s["shuffle_mb"] += (read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0)
                                + (m.get("Shuffle Write Metrics") or {}).get(
                                    "Shuffle Bytes Written", 0)) / 1e6
            s["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 1e6
            s["tasks"] += 1
    by_name: dict[str, dict] = {}
    for sid, name in sorted(names.items()):
        agg = by_name.setdefault(name, dict.fromkeys(stats[sid], 0))
        for k, v in stats[sid].items():
            agg[k] += v
    covered, reach = 0, start
    for sub, comp in sorted(spans):
        sub, comp = max(sub, reach), min(comp, end)
        if comp > sub:
            covered += comp - sub
            reach = comp
    return {
        "stages": {n: {k: round(v, 2) for k, v in s.items()} for n, s in by_name.items()},
        "no_stage_s": round((max(end - start, 0) - covered) / 1e3, 2),
    }


def event_log(events_dir: str) -> str:
    """The one finished event log a payload wrote into `events_dir`."""
    logs = [f for f in os.listdir(events_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {events_dir}, found {logs}")
    return os.path.join(events_dir, logs[0])


# numpy/BLAS threads pinned to each executor's one core: OpenBLAS defaults
# to ALL machine threads inside every Python worker, so an unpinned
# low-executor level silently uses more cores than it is credited with
# (measured on the training payload: 0.416 before pinning, both levels
# faster after)
BLAS_CONF = [
    f"spark.executorEnv.{var}=1"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS")
]

# one plain JSON-lines file per run, as stage_report reads it
EVENT_LOG_CONF = [
    "spark.eventLog.enabled=true",
    "spark.eventLog.compress=false",
    "spark.eventLog.rolling.enabled=false",
]


def run_level(n_exec: int, mem_mb: int, conf: list[str], job: list[str],
              key: str, trials: int) -> dict:
    """The best of `trials` spark-submits of `job` at `n_exec` single-core
    executor JVMs of `mem_mb` each, driver included, with the per-stage
    report of its event log. Shuffle/spill dirs go to tmpfs — concurrent
    executors saturated this VM's /tmp disk, which would measure the disk,
    not the engine; a real cluster has per-node NVMe."""
    shm_dir = "/dev/shm/spark-local"
    os.makedirs(shm_dir, exist_ok=True)
    cmd = [
        "spark-submit",
        "--master", f"local-cluster[{n_exec},1,{mem_mb}]",
        "--driver-memory", f"{mem_mb}m",
        "--executor-memory", f"{mem_mb}m",
    ]
    # the event-log keys last, so no --conf changes the format stage_report reads
    for kv in [f"spark.local.dir={shm_dir}", *BLAS_CONF, *conf, *EVENT_LOG_CONF]:
        cmd += ["--conf", kv]
    out = f"{WORK}/out_{n_exec}"
    job = [a.format(out=out, n=n_exec) for a in job]
    runs = []
    for trial in range(trials):
        # a fresh output dir per run, so kg_job's resume never skips, and
        # a fresh event-log dir, so it holds this run's log only
        events = f"{WORK}/events/{n_exec}_{trial}"
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(events, ignore_errors=True)
        os.makedirs(events)
        proc = subprocess.run(
            [*cmd, "--conf", f"spark.eventLog.dir=file://{events}", *job],
            capture_output=True, text=True, cwd=REPO, timeout=3600)
        runs.append((parse_metrics_line(
            proc, f'"{key}"', f"local-cluster[{n_exec},1,{mem_mb}]"), events))
    best, events = max(runs, key=lambda r: r[0][key])
    with open(event_log(events), encoding="utf-8") as f:
        best.update(stage_report(f))
    best["trials"] = [r[key] for r, _ in runs]
    best["executors"] = n_exec
    return best


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=list(PAYLOADS), default="kg")
    ap.add_argument("--cores", type=int, nargs=2, default=[1, 4],
                    help="executor counts: N and 4N single-core executor JVMs")
    ap.add_argument("--trials", type=int, default=1,
                    help="runs per level; the best throughput is reported")
    ap.add_argument("--conf", action="append", default=[], dest="extra_conf",
                    metavar="K=V", help="extra spark conf, repeatable")
    g = ap.add_argument_group("kg / neural")
    # Each default sized the slower (N=1) level to 6-7 minutes on a
    # 4-vCPU/15 GB box, so fixed per-job cost (per-bucket manifest jobs,
    # executor start) is a small share of the wall: at 4,000 kg docs it
    # was most of it (efficiency 0.232; 0.541 at 100k). Building dict
    # triples per sentence row cut kg N=1 at 100k to ~2.7 min (0.500);
    # 200k docs now fit the 1.6 GB executor heap (~5 min, 0.623). The
    # neural tagger costs ~7x more per doc.
    g.add_argument("--n-docs", type=int, default=None,
                   help="default 100000 (kg), 16000 (neural)")
    g = ap.add_argument_group("train")
    # 8,192 sentences: the N=1 level takes ~6 minutes (3 epochs of ~70 s
    # plus setup); each step's fixed sync cost weighs less than at 4,096
    # (efficiency 0.842 vs 0.783)
    g.add_argument("--n-sentences", type=int, default=8192)
    g.add_argument("--batch", type=int, default=2048)
    g.add_argument("--epochs", type=int, default=3)
    g.add_argument("--batch-norm", action="store_true",
                   help="measure the sync-BN trainer (extra per-site "
                        "stat/backward reductions per step)")
    g = ap.add_argument_group("analytics")
    # analytics_job times its second write_analytics pass, so the N=1 level
    # pays two passes; at 2M edges that is ~6 minutes, and the per-round
    # PageRank/k-hop jobs are still a visible floor (efficiency 0.47)
    g.add_argument("--n-ent", type=int, default=50_000)
    g.add_argument("--n-edges", type=int, default=2_000_000)
    args = ap.parse_args()

    from bioner_spark.session import memory_share_mb

    script, key, wall_key = PAYLOADS[args.workload]
    argv, conf = payload(args)
    conf += args.extra_conf
    job = ["--py-files", make_zip(), os.path.join(REPO, "scripts", script), *argv]
    mem_mb = memory_share_mb(max(args.cores) + 1)
    lo, hi = (run_level(n, mem_mb, conf, job, key, args.trials) for n in args.cores)
    eff = (hi[key] / lo[key]) / (args.cores[1] / args.cores[0])
    # T(N) = F + P/N through both levels' timed walls
    parallel = ((lo[wall_key] - hi[wall_key])
                / (1 / args.cores[0] - 1 / args.cores[1]))
    print(json.dumps({
        "args": vars(args),
        "memory_mb": mem_mb,
        "throughput_key": key,
        "levels": [lo, hi],
        "fixed_s": round(lo[wall_key] - parallel / args.cores[0], 1),
        "parallel_s": round(parallel, 1),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }))

if __name__ == "__main__":
    main()
