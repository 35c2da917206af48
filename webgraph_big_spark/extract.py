"""Edge extraction from source-file content — the ingest layer.

North-rule input: ``repos(repo, path, commit, lang, content)``.  Imports /
includes are pulled out of ``content`` with **vectorized pandas UDFs**
(Arrow-batched; no per-row Python), every row's ``sha2(content, 256)`` is
recorded (the per-row ingest invariant), module symbols get dense long
ids, and the result is an ``edges(src, dst)`` Graph.

This replaces the reference's ingestion path
(``ScatteredArcsASCIIGraph.java:142``: parse arcs with arbitrary ids →
``Id2NodeMap`` appearance-order dense ids → ext-sort batches): parsing is
the pandas UDF, the id map is a dense-rank over the symbol vocabulary
(sorted order, not appearance order — documented difference, SURVEY.md §7
hard part 6; all algorithm outputs are id-invariant up to relabel), and
Spark's shuffle is the external sort.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from webgraph_big_spark.graph import Graph

_IMPORT_RE = {
    "python": re.compile(r"^\s*(?:import|from)\s+([A-Za-z_][\w.]*)", re.M),
    "c": re.compile(r'^\s*#\s*include\s*"([\w./-]+?)(?:\.h)?"', re.M),
    "java": re.compile(r"^\s*import\s+(?:static\s+)?([\w.]+)\s*;", re.M),
}


@F.pandas_udf(T.ArrayType(T.StringType()))
def _extract_imports(lang: pd.Series, content: pd.Series) -> pd.Series:
    """Vectorized import extraction: per Arrow batch, regex per language.

    The symbol is normalized to its last dotted/path component (module
    basename), which is how the synthetic corpus and most real layouts
    key files."""
    out = []
    for lg, txt in zip(lang, content):
        rx = _IMPORT_RE.get(lg)
        if rx is None or not txt:
            out.append([])
            continue
        syms = []
        for mtch in rx.findall(txt):
            base = mtch.rsplit(".", 1)[-1].rsplit("/", 1)[-1]
            syms.append(base)
        out.append(syms)
    return pd.Series(out)


def file_symbols(repos: DataFrame) -> DataFrame:
    """(repo, path, symbol): the module a file *defines* = path basename
    without extension — the join key for resolving imports."""
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    sym = F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")
    return repos.select("repo", "path", sym.alias("symbol"))


def extract_references(repos: DataFrame) -> DataFrame:
    """(src_symbol, dst_symbol, content_sha) — one row per import edge.

    ``content_sha`` is Spark-side ``sha2(content, 256)``; tests assert it
    equals the generator's hashlib sha per row (ingest invariant).
    """
    defs = file_symbols(repos)
    refs = (
        repos.withColumn("content_sha", F.sha2("content", 256))
        .withColumn("_imports", _extract_imports("lang", "content"))
        .join(defs, ["repo", "path"])
        .select(
            F.col("symbol").alias("src_symbol"),
            F.explode("_imports").alias("dst_symbol"),
            "content_sha",
        )
    )
    # resolve: keep only imports of symbols that are defined somewhere
    vocab = defs.select(F.col("symbol").alias("dst_symbol")).distinct()
    return refs.join(vocab, "dst_symbol", "left_semi")


def assign_dense_ids(symbols: DataFrame, col: str = "symbol") -> DataFrame:
    """(symbol, id): dense long ids ``[0, n)`` by sorted symbol order —
    the ``Id2NodeMap`` analogue (``ScatteredArcsASCIIGraph.java:155``)
    with deterministic (order-independent) numbering.

    Ranks come from :func:`webgraph_big_spark.functions.global_rank`
    (range shuffle + per-partition offsets) — at a 10⁹-row vocabulary
    this is #partitions parallel sorts, not one single-task global
    ``Window.orderBy``."""
    from webgraph_big_spark.functions import global_rank

    uniq = symbols.select(F.col(col).alias("symbol")).distinct()
    return global_rank(uniq, ["symbol"], out="id")


def build_graph(repos: DataFrame) -> tuple[Graph, DataFrame]:
    """repos table → (Graph over dense ids, id_map(symbol, id)).

    The full ingest pipeline: vectorized extraction → vocabulary →
    dense-id join on both endpoints → dedup.  The ``.ids`` inverse file of
    the reference (``ScatteredArcsASCIIGraph.java:148-153``) is the
    returned ``id_map``.

    The id map is an eager ``localCheckpoint`` (its row count observed by
    that same job), so both endpoint joins and the returned map read one
    fixed numbering and no session cache entry is left behind.
    """
    defs = file_symbols(repos)
    sized = Observation()
    id_map = (
        assign_dense_ids(defs.select("symbol").distinct())
        .observe(sized, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    refs = extract_references(repos)
    edges = (
        refs.join(
            F.broadcast(id_map.withColumnRenamed("symbol", "src_symbol")), "src_symbol"
        )
        .withColumnRenamed("id", "src")
        .join(
            F.broadcast(id_map.withColumnRenamed("symbol", "dst_symbol")), "dst_symbol"
        )
        .withColumnRenamed("id", "dst")
        .select("src", "dst")
        .distinct()
    )
    return Graph(edges, num_nodes=sized.get["n"]), id_map
