"""SparkSession factory tuned for this engine: the only place a session is
built, for a plain `python` driver and for a spark-submit payload alike.

* Plain `python` driver (tests, bench.py, kgbench, the verify scripts):
  local[$SPARK_GRAFT_CPUS], defaulting to the cores this process may run
  on; shuffle partitions and default parallelism max(cores, 8); driver
  memory min(24g, half of RAM).
* Driver started by `spark-submit --py-files` (scripts/kg_job.py,
  train_job.py, analytics_job.py; on a cluster or local-cluster[N,1,m]):
  the JVM already runs with the submit command's conf, so master, driver
  memory and both parallelism keys are left to that command.

Either way the engine defaults (AQE, Arrow batch bounds, UTC, UI off) fill
every key the launcher did not set, and the ICU warm-up runs once per
context. Shuffle-partition count and AQE are set explicitly because the KG
pipeline's big shuffles (token explode → span agg, mention self-join) are
sized by these.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side `rows` (tuples in `schema`'s field
    order; `schema` a StructType or DDL string), built as an Arrow local
    relation that plans as `LocalTableScan`.

    Every small table the library builds on the driver goes through here.
    `spark.createDataFrame(list, ddl)` would instead make a pickled Python
    RDD (`Scan ExistingRDD`), and every scan of it forks Python workers
    for each of its partitions — a fixed Python round-trip per job for
    tables of a few rows, outside any vectorized UDF."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def usable_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def memory_share_mb(jvms: int = 1) -> int:
    """Heap for each of `jvms` JVMs sharing this box: min(24g, half of
    physical RAM / jvms). One JVM is the default driver memory; a
    local-cluster run splits the same half over its driver and executors."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    return min(24 << 10, half_mb // jvms)


# Engine defaults, applied to every key the launcher did not set.
_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batches so giant documents cannot blow up one UDF call;
    # the NER kernel additionally sub-batches by token budget.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # THE input-side byte bound for pandas UDF / mapInPandas batches
    # (Spark >=4.0): a batch closes at 64 MB even if far under the row
    # cap, so a handful of 32 MB video payloads can never arrive as one
    # multi-GB pandas frame. Pinned to the default explicitly because
    # ops/multimodal's memory contract DEPENDS on it — its own
    # sub-batching bounds output accumulation, not input.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def submitted_conf():
    """The conf spark-submit started this driver's JVM with, or None in a
    plain `python` driver.

    spark-submit launches the JVM first, passes its port in
    $PYSPARK_GATEWAY_PORT and sets the submit command's keys as JVM system
    properties. `SparkConf()` reads those only once Python is attached to
    that JVM — before, it is an empty Python-side dict — so attach first
    (this connects to the running gateway and launches nothing). A plain
    driver must not touch the JVM here: driver memory and -X options only
    take effect when the builder launches it."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf()


def get_spark(
    app_name: str = "bioner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In a plain driver, parallelism is read from $SPARK_GRAFT_CPUS (default:
    the usable cores) when not given, so bench runs can sweep parallelism
    levels, and spark.driver.memory defaults to min(24g, half of physical
    RAM); $SPARK_DRIVER_MEM overrides it. Under spark-submit the submit
    command owns master, driver memory and parallelism, and the app name
    and engine defaults apply only where it set nothing. Explicit
    arguments and `extra_conf` apply in both.
    """
    conf = {"spark.app.name": app_name, **_ENGINE_CONF}
    submitted = submitted_conf()
    if submitted is not None:
        conf = {k: v for k, v in conf.items() if not submitted.contains(k)}
    else:
        cpus = usable_cpus()
        # Size shuffles to the core count: at 100 TB this would instead be
        # ~2-3x total executor cores, set per job; AQE coalesces the tail.
        parts = str(max(cpus, 8))
        conf.update({
            "spark.master": f"local[{cpus}]",
            "spark.sql.shuffle.partitions": parts,
            "spark.default.parallelism": parts,
            "spark.driver.memory": (
                os.environ.get("SPARK_DRIVER_MEM") or f"{memory_share_mb()}m"
            ),
            "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true",
        })
    if master:
        conf["spark.master"] = master
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        conf["spark.default.parallelism"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_icu(spark)
    return spark


# applicationIds whose JVM already ran the ICU warmup — getOrCreate returns
# the same session on repeated get_spark() calls, and re-running the warmup
# job on an already-warm JVM is a pointless Spark job per call.
_ICU_WARMED: set = set()


def _warm_icu(spark: SparkSession) -> None:
    """Force Spark 4's collation-aware string path to class-load ICU now.

    The first non-ASCII lower()/upper() in a JVM triggers
    CollationAwareUTF8String's static initializer, which loads ICU break
    iterators and collation data — measured 10-18 s on this sandbox, during
    which EVERY concurrently running task serializes behind the class-init
    lock (thread dump: 31/32 executor threads parked in
    CollationSupport$Lower.execBinaryICU while one sits in
    com.ibm.icu...<clinit>). Paying it here, once, at session build keeps it
    out of every job; on a real cluster each executor JVM likewise pays it
    once at first use — this warmup just makes the cost deterministic.

    Runs once per SparkContext (keyed by applicationId), not once per
    get_spark() call."""
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _ICU_WARMED:
            return
        # one tiny task per core slot (×4 waves) so every executor JVM in
        # local-cluster / real-cluster mode class-loads ICU, not just the one
        # that happens to win the first task. Floor of 128: on cluster
        # masters executors register ASYNCHRONOUSLY and defaultParallelism
        # reads low until they do (kg_job reads it after the first job for
        # this reason) — a warmup sized off the early reading would leave
        # late-registering JVMs to pay the 10-18 s stall inside the timed
        # job. 128 trivial tasks queue and drain onto executors as they
        # appear (<1 s total).
        n = max(128, spark.sparkContext.defaultParallelism * 4)
        spark.range(0, n, 1, n).selectExpr(
            "max(length(lower(concat('Äß', id)))) as w",
            "max(length(initcap(concat('ßä ', id)))) as t",
        ).collect()
        # mark warmed only AFTER the job succeeds: marking up-front made a
        # transiently failed warmup unretryable for the whole app, landing
        # the 10-18 s ICU class-init stall inside the first timed job with
        # no indication the warmup was skipped
        _ICU_WARMED.add(app_id)
    except Exception as exc:
        # best-effort; never fail session creation — but say so, because a
        # silently skipped warmup shows up later as an inexplicable stall
        print(f"bioner_spark.session: ICU warmup failed, will retry on next "
              f"get_spark ({type(exc).__name__}: {exc})", file=sys.stderr)


def stable_default_parallelism(spark: SparkSession, timeout_s: float = 10.0) -> int:
    """defaultParallelism AFTER executor registration stabilizes.

    On cluster (and local-cluster) masters executors register
    asynchronously: a read taken right after the first job can see only a
    fraction of the fleet, silently undersizing anything derived from it
    (shard counts, shuffle-partition floors, reported core counts). One
    warmup job forces scheduling, then the value is polled until THREE
    consecutive reads stop growing — JVM spawn can stagger registrations
    more than one poll interval apart, so breaking on the first quiet
    window would undercount (the exact slow-registration case the poll
    exists for).

    Plain local[N] masters have no asynchronous registration —
    defaultParallelism is fixed at session creation — so they return
    immediately instead of paying the warmup job + ≥1.5 s poll on every
    dev/CI run (local-cluster[...] does NOT match the prefix and still
    polls, as its executor JVMs register asynchronously like a real
    cluster's).
    """
    import time as _time

    master = spark.sparkContext.master or ""
    if master == "local" or master.startswith("local["):
        return spark.sparkContext.defaultParallelism

    spark.range(1000).count()
    seen = spark.sparkContext.defaultParallelism
    deadline = _time.time() + timeout_s
    stable = 0
    while _time.time() < deadline:
        _time.sleep(0.5)
        cur = spark.sparkContext.defaultParallelism
        if cur <= seen:
            stable += 1
            if stable >= 3:
                break
        else:
            stable = 0
            seen = cur
    return spark.sparkContext.defaultParallelism
