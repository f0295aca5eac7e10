"""scripts/kg_job.py under spark-submit: the submit command's shuffle
partitions win over the job's floor, the triples equal the generator's
gold, and a second submit resumes by skipping every bucket."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from bioner_spark import corpus as corpus_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(tmp_path, *job_args) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("SPARK_DRIVER_MEM", None)
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--driver-memory", "1g",
            "--conf", "spark.sql.shuffle.partitions=7",
            os.path.join(REPO, "scripts", "kg_job.py"),
            *job_args,
        ],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-3000:]
    return json.loads(lines[-1])


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_kg_job_submit_builds_gold_triples_then_resumes(spark, corpus, tmp_path):
    pages, alias, out = (str(tmp_path / d) for d in ("pages", "alias", "out"))
    corpus_mod.pages_spark_df(spark, corpus).write.parquet(pages)
    corpus_mod.alias_dict_spark_df(spark, corpus).write.parquet(alias)
    args = ["--input", pages, "--alias", alias, "--output", out, "--n-buckets", "4"]

    first = _submit(tmp_path, *args)
    assert first["shuffle_partitions"] == 7
    assert (first["buckets_processed"], first["buckets_skipped"]) == (4, 0)
    assert first["n_docs"] == len(corpus.pages)
    assert first["docs_per_sec"] is not None
    cols = ["subj", "pred", "obj", "doc_id", "sentence_id"]
    got = spark.read.parquet(f"{out}/triples").select(*cols).collect()
    assert first["n_triples"] == len(got)
    assert sorted(map(tuple, got)) == sorted(corpus.triples[cols].itertuples(index=False, name=None))

    again = _submit(tmp_path, *args)
    assert (again["buckets_processed"], again["buckets_skipped"]) == (0, 4)
    assert again["docs_per_sec"] is None
    assert again["n_triples"] == first["n_triples"]
