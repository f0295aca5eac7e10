"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction query (dictionary-tagged
triple extraction) over /root/testdata/sf0.001/documents.parquet.

`queries()` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data ops), each mirrored by an ANSI-SQL
oracle in `oracle_sql()`. Both merge the per-family dicts of
bioner_spark/contract/.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bioner_spark.contract import (
    cleaning, kg, media, neural, similarity, span_metrics, streaming, text,
)
from bioner_spark.contract.kg import kg_triples as _kg_triples
from bioner_spark.contract.sql import _expand_lower_sql


def entry(spark: SparkSession) -> DataFrame:
    return _kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every contract query, stalest first.

    A correctness harness that walks this dict in order under a row
    budget checks only a prefix, so a query cut off in one round must
    lead the next. Each name is keyed by the latest checked-in
    CORRECTNESS_r<N>.json that has a row for it (0 when none does); ties
    keep the declared family order."""
    declared = {}
    for family in (text, span_metrics, kg, cleaning, similarity, neural, media, streaming):
        declared |= family.QUERIES
    last_round = dict.fromkeys(declared, 0)
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            for name in json.load(f):
                if name in last_round:
                    last_round[name] = max(last_round[name], rnd)
    return {name: declared[name] for name in sorted(declared, key=last_round.get)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle per query name, with every LOWER_SQL(...) marker
    expanded into the Spark-lower() shim — one pass over every oracle, so
    no site can forget it."""
    return {
        name: _expand_lower_sql(sql)
        for family in (text, span_metrics, kg, cleaning, similarity, neural, media, streaming)
        for name, sql in family.ORACLES.items()
    }
