"""Traced layer run: spans kept in memory, one layer materialized at a time,
and the Spark event log folded into per-layer task metrics.

Every Spark job is tagged with a job group: the layer name for the job that
materializes a layer's output, BOOKKEEPING for the tracer's own jobs
(persisting an output for the next layer, counting its rows). The event
log maps each stage to the job group of the job that first ran it, so task
metrics land on the layer that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

BOOKKEEPING = "trace.bookkeeping"


class Tracer:
    """Spans (name, start, end, parent, run id) in memory, written once by
    `dump`. A span opened with `layer` tags its jobs with the layer name."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rows_out: dict[str, int] = defaultdict(int)
        self.cached_mb: dict[str, float] = defaultdict(float)
        self.extra: dict[str, float] = {}
        self._open: list[int] = []
        self._persisted: list = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        sc = self.spark.sparkContext
        if job_group is not None:
            sc.setJobGroup(job_group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if job_group is not None:
                sc.setJobGroup(BOOKKEEPING, "between layers")

    def layer(self, name: str):
        return self.span(name, job_group=name)

    def bookkeeping(self, what: str = "bookkeeping"):
        return self.span(what, job_group=BOOKKEEPING)

    def materialize(self, layer: str, build):
        """Time the layer's self cost as a `noop` write of `build()` (whose
        inputs are already persisted), then persist the output untimed for
        the next layer, count its rows and record its cached size."""
        from pyspark import StorageLevel

        with self.layer(layer):
            df = build()
            df.write.format("noop").mode("overwrite").save()
        with self.bookkeeping():
            before = self._storage_bytes()
            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            self.keep(out)
            self.rows_out[layer] += out.count()
            self.cached_mb[layer] += (self._storage_bytes() - before) / 1e6
        return out

    def hub(self, layer: str, build):
        """For an output the library itself persists and counts (the token
        hub): the layer's time is that persist and count."""
        from pyspark import StorageLevel

        with self.layer(layer):
            before = self._storage_bytes()
            out = build().persist(StorageLevel.MEMORY_AND_DISK)
            self.keep(out)
            self.rows_out[layer] += out.count()
        self.cached_mb[layer] += (self._storage_bytes() - before) / 1e6
        return out

    def keep(self, df) -> None:
        """Unpersist `df` on `release`, with the layer outputs."""
        self._persisted.append(df)

    def _storage_bytes(self) -> int:
        """Memory plus disk bytes of every cached block in the session."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def collect(self, layer: str, build) -> list:
        """For layers whose output the pipeline collects to the driver."""
        with self.layer(layer):
            rows = build().collect()
        self.rows_out[layer] += len(rows)
        return rows

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, record: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **record}, f, indent=1)


def event_log_file(event_dir: str) -> str:
    """The one finished (non-.inprogress) event log in `event_dir`."""
    logs = [
        os.path.join(event_dir, n)
        for n in os.listdir(event_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {logs}")
    return logs[0]


def layer_stats(lines) -> dict[str, dict]:
    """Event-log JSON lines → per job group: jobs, task_s (executor run
    time), shuffle_write_mb, spill_mb (bytes spilled to disk), and
    task_skew (max / median task time within the group's heaviest stage)."""
    jobs: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    shuffle_b: dict[int, int] = defaultdict(int)
    spill_b: dict[int, int] = defaultdict(int)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
            jobs[group] += 1
            for sid in ev.get("Stage IDs", ()):
                # a reused shuffle stage is listed again by later jobs that
                # skip it; it belongs to the first job, which ran it
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            task_ms[sid].append(m.get("Executor Run Time", 0))
            shuffle_b[sid] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill_b[sid] += m.get("Disk Bytes Spilled", 0)
    out: dict[str, dict] = {}
    for group, n_jobs in jobs.items():
        stages = [s for s, g in stage_group.items() if g == group and task_ms[s]]
        heavy = max(stages, key=lambda s: sum(task_ms[s]), default=None)
        skew = 0.0
        if heavy is not None:
            med = statistics.median(task_ms[heavy])
            skew = max(task_ms[heavy]) / med if med > 0 else 1.0
        out[group] = {
            "jobs": n_jobs,
            "task_s": sum(sum(task_ms[s]) for s in stages) / 1e3,
            "shuffle_write_mb": sum(shuffle_b[s] for s in stages) / 1e6,
            "spill_mb": sum(spill_b[s] for s in stages) / 1e6,
            "task_skew": skew,
        }
    return out


def udf_python_s(spark, profile_dir: str) -> float:
    """Total Python compute seconds recorded by the `perf` UDF profiler
    since its last clear (cProfile inside the worker: Arrow transfer and
    the JVM side are not in it)."""
    import pstats

    spark.profile.dump(profile_dir, type="perf")
    spark.profile.clear(type="perf")
    if not os.path.isdir(profile_dir):
        return 0.0
    total = 0.0
    for name in os.listdir(profile_dir):
        path = os.path.join(profile_dir, name)
        total += pstats.Stats(path).total_tt
        os.remove(path)
    return total
