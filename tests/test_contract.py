"""The query contract's shape (`__spark_entry__` over bioner_spark/contract/):
name parity between queries() and oracle_sql(), stalest-first order, fully
expanded LOWER_SQL markers, and a shim-only entry file. Starts no Spark job."""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import shutil

import __spark_entry__ as entry
from bioner_spark.contract import kg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows_by_round(root):
    out = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            out[rnd] = set(json.load(f))
    return out


def _load_entry_copy(tmp_path):
    """The entry file copied into tmp_path, so queries() sees only the
    CORRECTNESS files the test puts next to it."""
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tmp_path)
    spec = importlib.util.spec_from_file_location(
        "entry_copy", tmp_path / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_and_oracles_have_the_same_55_names():
    assert set(entry.queries()) == set(entry.oracle_sql())
    assert len(entry.queries()) == 55


def test_stalest_queries_come_first():
    names = list(entry.queries())
    rounds = _rows_by_round(ROOT)
    latest = rounds[max(rounds)]
    missing = [n for n in names if n not in latest]
    assert set(names[: len(missing)]) == set(missing)
    last = [max((r for r, rows in rounds.items() if n in rows), default=0) for n in names]
    assert last == sorted(last)
    if max(rounds) == 5:
        assert set(names[:5]) == {
            "neural_ner_tags", "multimodal_features", "multimodal_hist",
            "multimodal_decode", "corpus_filter",
        }


def test_order_without_history_is_declared_and_ties_keep_it(tmp_path):
    mod = _load_entry_copy(tmp_path)
    declared = list(mod.queries())
    assert declared[0] == "tokenize_offsets"  # the first family's first query
    rows = {n: {} for n in declared if n not in ("kg_pmi", "simhash")}
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"simhash": {}}))
    ordered = list(mod.queries())
    # never checked < last checked in r3 < everything checked in r7
    assert ordered[:2] == ["kg_pmi", "simhash"]
    assert ordered[2:] == [n for n in declared if n not in ("kg_pmi", "simhash")]


def test_no_oracle_keeps_the_lower_sql_marker():
    # the marker is the call form; prose in SQL comments may name the shim
    for name, sql in entry.oracle_sql().items():
        assert "LOWER_SQL(" not in sql, name
    assert any("LOWER_SQL(" in sql for sql in kg.ORACLES.values())


def test_entry_file_is_a_shim():
    with open(os.path.join(ROOT, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    defined = []
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            continue  # module docstring
        assert isinstance(node, ast.FunctionDef), ast.dump(node)[:80]
        defined.append(node.name)
    assert sorted(defined) == ["entry", "oracle_sql", "queries"]
