"""Run environment for the benchmark: box-fitted Spark settings, a spin
probe sized to the core count, and /proc readings of the process tree
(driver, JVM and Python workers) for CPU time and memory."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def box_cpus() -> int:
    """Cores this process may run on (not `nproc`, which honours
    OMP_NUM_THREADS and would read 1 once BLAS threads are pinned)."""
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_environment(root: str, work: str) -> dict:
    """Set the environment every Spark process of this run inherits, and
    return the settings for the run record. Must run before the JVM starts
    and before numpy is imported.

    * SPARK_GRAFT_CPUS = usable cores, so session.get_spark sizes local[N]
      and the shuffle partitions to the box;
    * SPARK_DRIVER_MEM well below physical RAM (the library default of 24g
      exceeds a 15 GB box, and the machine is shared);
    * one BLAS/OpenMP thread per Python worker, so N workers on N cores do
      not oversubscribe them with N×N BLAS threads;
    * Spark local dirs and every temp dir inside the run's work dir;
    * the checkout root on PYTHONPATH, so Python workers import the library.
    """
    cpus = box_cpus()
    # SPARK_DRIVER_MEM: room for the build workload's cached pages, token
    # hub and gold table in memory, and at most a quarter of the box
    mem_gb = min(3, mem_total_gb() / 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{int(mem_gb * 1024)}m",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root,
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = tmp
    return settings


_SPIN = """
import sys, time
n = int(sys.argv[1])
print("ready", flush=True)
sys.stdin.read(1)
t0 = time.perf_counter()
x = 0
for _ in range(n):
    x = (x * 1103515245 + 12345) & 0xFFFFFFFF
print(time.perf_counter() - t0)
"""


def spin_probe(procs: int, n: int = 1_000_000) -> dict:
    """Fixed spin work on 1 process, then on `procs` processes released at
    once. spin_eff = t1 / mean(tN): 1.0 means the cores run in parallel at
    full speed; less means they contend (shared host, SMT siblings)."""

    def start(k: int) -> list[subprocess.Popen]:
        return [
            subprocess.Popen(
                [sys.executable, "-c", _SPIN, str(n)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            )
            for _ in range(k)
        ]

    def finish(ps: list[subprocess.Popen]) -> float:
        for p in ps:  # released only once every worker has started
            p.stdout.readline()
        for p in ps:
            p.stdin.write("g")
            p.stdin.close()
        times = [float(p.stdout.read()) for p in ps]
        for p in ps:
            p.wait(timeout=60)
        return sum(times) / len(times)

    t1 = finish(start(1))
    tn = finish(start(procs))
    return {"spin_procs": procs, "spin_1p_s": t1, "spin_np_s": tn, "spin_eff": t1 / tn}


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """root and every live (not zombie) process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and f[0] != "Z":
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system seconds of the tree, including reaped children (their
    time moves into the parent's cutime/cstime, so a worker that exits
    between two readings is still counted once)."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(v) for v in f[11:15])
    return total / _CLK_TCK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between forked
    Python workers are split between them instead of counted per worker."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PeakMemory:
    """Samples the tree's PSS on a thread inside the `with` block;
    `peak_mb` is the highest sum seen."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakMemory":
        self.peak_mb = tree_pss_mb(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
