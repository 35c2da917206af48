"""Deterministic synthetic graph families + repos-table rendering.

The north rule's input is an Iceberg-style table
``repos(repo, path, commit, lang, content)`` of source files whose
import/include statements encode a known graph (FIXTURES.md §1).  This
module generates exactly that: pick a graph family (mirroring the
reference's test generators — complete graphs and complete binary in/out
trees from ``test/.../BVGraphTest.java:53-105``, seeded Erdős–Rényi from
``test/.../algo/HyperBallTest.java:131-167``, plus the star/hub skew
fixture), assign node i → file ``src/mod_{i}.{ext}``, and emit content
importing exactly node i's successors.

Everything is seeded/deterministic — no wall-clock, no external data.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# graph families (edge arrays, numpy)
# ---------------------------------------------------------------------------


def cycle(n: int, bidirectional: bool = False) -> np.ndarray:
    i = np.arange(n, dtype=np.int64)
    e = np.stack([i, (i + 1) % n], axis=1)
    if bidirectional:
        e = np.concatenate([e, e[:, ::-1]])
    return e


def complete(n: int, loops: bool = False) -> np.ndarray:
    s, d = np.meshgrid(np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64), indexing="ij")
    e = np.stack([s.ravel(), d.ravel()], axis=1)
    if not loops:
        e = e[e[:, 0] != e[:, 1]]
    return e


def complete_binary_tree(height: int, direction: str = "out") -> np.ndarray:
    """Nodes 0..2^(h+1)-2, node k has children 2k+1, 2k+2.
    ``out``: parent→child (leaves dangling — the PageRank dangling-mass
    fixture); ``in``: child→parent."""
    n = (1 << (height + 1)) - 1
    parents = np.arange((n - 1) // 2, dtype=np.int64)
    kids = np.concatenate([2 * parents + 1, 2 * parents + 2])
    pars = np.concatenate([parents, parents])
    mask = kids < n
    kids, pars = kids[mask], pars[mask]
    if direction == "out":
        return np.stack([pars, kids], axis=1)
    return np.stack([kids, pars], axis=1)


def star(n: int, center: int = 0, direction: str = "both") -> np.ndarray:
    """The skew fixture: one hub connected to all others."""
    others = np.array([i for i in range(n) if i != center], dtype=np.int64)
    c = np.full_like(others, center)
    out = np.stack([c, others], axis=1)
    inn = np.stack([others, c], axis=1)
    if direction == "out":
        return out
    if direction == "in":
        return inn
    return np.concatenate([out, inn])


def erdos_renyi(n: int, p: float, seed: int, loops: bool = False) -> np.ndarray:
    rng = np.random.default_rng(seed)
    mask = rng.random((n, n)) < p
    if not loops:
        np.fill_diagonal(mask, False)
    s, d = np.nonzero(mask)
    return np.stack([s.astype(np.int64), d.astype(np.int64)], axis=1)


def disjoint_union(*graphs: tuple[np.ndarray, int]) -> tuple[np.ndarray, int]:
    """Union of (edges, n) graphs with shifted id ranges; returns
    (edges, total_n) — the multi-component WCC fixture."""
    parts, offset = [], 0
    for e, n in graphs:
        parts.append(e + offset)
        offset += n
    return np.concatenate(parts), offset


# ---------------------------------------------------------------------------
# repos-table rendering
# ---------------------------------------------------------------------------

_LANGS = ["python", "c", "java"]
_EXT = {"python": "py", "c": "c", "java": "java"}


def _module(i: int) -> str:
    return f"mod_{i:08d}"


def _render_content(lang: str, node: int, successors: np.ndarray) -> str:
    mods = [_module(int(s)) for s in successors]
    if lang == "python":
        body = "\n".join(f"import {m}" for m in mods)
        return f'"""module {_module(node)}"""\n{body}\n\nVALUE = {node}\n'
    if lang == "c":
        body = "\n".join(f'#include "{m}.h"' for m in mods)
        return f"/* module {_module(node)} */\n{body}\n\nint value_{node}(void) {{ return {node}; }}\n"
    body = "\n".join(f"import org.proj.{m};" for m in mods)
    return f"// module {_module(node)}\n{body}\n\npublic class C{node} {{ static final int VALUE = {node}; }}\n"


def repos_pdf(edges: np.ndarray, n: int, repo: str = "org/proj-0001") -> pd.DataFrame:
    """Render (edges, n) as a pandas repos table with the exact
    ``input_hint`` schema; ``content_sha256`` (hashlib) is carried as the
    generator-side half of the ingest invariant."""
    order = np.lexsort((edges[:, 1], edges[:, 0])) if len(edges) else np.array([], dtype=int)
    edges = edges[order]
    succ_split = np.searchsorted(edges[:, 0], np.arange(n + 1))
    rows = []
    for i in range(n):
        succs = edges[succ_split[i] : succ_split[i + 1], 1]
        lang = _LANGS[i % len(_LANGS)]
        content = _render_content(lang, i, succs)
        commit = hashlib.sha1(f"{repo}:{i}".encode()).hexdigest()
        rows.append(
            {
                "repo": repo,
                "path": f"src/{_module(i)}.{_EXT[lang]}",
                "commit": commit,
                "lang": lang,
                "content": content,
                "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
            }
        )
    return pd.DataFrame(rows)


def repos_table(spark: SparkSession, edges: np.ndarray, n: int, **kw) -> DataFrame:
    """The repos table as a Spark DataFrame (partition-parallel for big n
    via spark.range + mapInPandas would be the scale path; fixtures here
    are driver-rendered)."""
    pdf = repos_pdf(edges, n, **kw)
    return spark.createDataFrame(pdf)
