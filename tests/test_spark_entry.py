"""Driver registry contract: ``queries()`` and ``oracle_sql()`` name the
same 49 gates, and the oracle SQL text is byte-identical to the
published one — a refactor of ``__spark_entry__.py`` must change
neither."""

from __future__ import annotations

import ast
import hashlib
import json
import tempfile
from pathlib import Path

import __spark_entry__ as entry

ORACLE_SQL_SHA256 = "7a5c9cc49e48d6e34cdd1b8c60092f3c20f3e6f91b26462184fb97df6c77b6db"


def test_query_and_oracle_registries_agree():
    keys = sorted(entry.queries())
    assert keys == sorted(entry.oracle_sql())
    assert len(keys) == 49


def test_oracle_sql_text_unchanged():
    text = json.dumps(entry.oracle_sql(), sort_keys=True)
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SQL_SHA256


def test_one_registry_and_imports_on_top():
    """``queries`` and ``oracle_sql`` are each defined once, and every
    top-level import precedes the first top-level function."""
    tree = ast.parse(Path(entry.__file__).read_text())
    defs = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]
    assert defs.count("queries") == 1 and defs.count("oracle_sql") == 1
    first_def = next(i for i, n in enumerate(tree.body) if isinstance(n, ast.FunctionDef))
    late = [
        n.lineno
        for n in tree.body[first_def:]
        if isinstance(n, (ast.Import, ast.ImportFrom))
    ]
    assert late == []


def test_storage_gates_remove_their_temp_dirs(spark, tmp_path, monkeypatch):
    """The two gates that store a graph on disk return a materialized
    frame and leave no ``wbs_*_gate_*`` directory behind."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    sf = tmp_path / "sf"
    spark.createDataFrame(
        [(1, 7, "1995-01-01"), (2, 8, "1994-03-02"), (3, 7, "1996-05-05")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).write.parquet(str(sf / "orders.parquet"))
    spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 3), (3, 5)], "l_orderkey long, l_suppkey long"
    ).write.parquet(str(sf / "lineitem.parquet"))
    q = entry.queries()
    weighted = sorted(tuple(r) for r in q["store_load_weighted_g1"](spark, str(sf)).collect())
    pairs = q["typed_pairs_g1"](spark, str(sf)).collect()
    assert weighted == [(7, 100003, 1), (7, 100004, 1), (8, 100003, 2)]
    assert [(r["src_type"], r["dst_type"], r["arcs"]) for r in pairs] == [(0, 1, 4)]
    assert not [p.name for p in tmp.iterdir() if p.name.startswith("wbs_")]
