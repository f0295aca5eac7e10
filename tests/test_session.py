"""get_spark under spark-submit: the submit command owns master, driver
memory and parallelism; the engine defaults fill what it left unset."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PAYLOAD = """
import json
from bioner_spark.session import get_spark

spark = get_spark()
conf = spark.sparkContext.getConf()
print(json.dumps({
    "master": spark.sparkContext.master,
    "default_parallelism": spark.sparkContext.defaultParallelism,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "driver_memory": conf.get("spark.driver.memory"),
    "time_zone": spark.conf.get("spark.sql.session.timeZone"),
    "arrow_batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    "skew_join": spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
    "app_name": spark.sparkContext.appName,
}))
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_get_spark_keeps_the_submit_command_conf(tmp_path):
    script = tmp_path / "payload.py"
    script.write_text(PAYLOAD)
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("SPARK_DRIVER_MEM", None)
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--driver-memory", "1g",
            "--conf", "spark.sql.shuffle.partitions=7",
            # keys the engine defaults also set: the submit command wins
            "--conf", "spark.sql.adaptive.skewJoin.enabled=false",
            "--name", "submitted_app",
            str(script),
        ],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=300,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-3000:]
    assert json.loads(lines[-1]) == {
        "master": "local[2]",
        "default_parallelism": 2,
        "shuffle_partitions": "7",
        "driver_memory": "1g",
        "time_zone": "UTC",
        "arrow_batch": "2048",
        "skew_join": "false",
        "app_name": "submitted_app",
    }
