"""Neighbourhood function: exact (small graphs) and HyperBall
(HyperLogLog registers, the scale path), plus HLL-derived centralities.

Reference: ``algo/HyperBall.java:217`` — per-node HLL counters of
ball(x, t); iteration t does a register-wise max-merge over successors'
counters (``algo/HyperBall.java:812``), in *systolic* mode only nodes
with a changed successor counter recompute (``algo/HyperBall.java:124-135``),
and the per-node ball-size deltas accumulate into the neighbourhood
function and the geometric centralities (``algo/HyperBall.java:245``:
harmonic / closeness / Lin / reachable).

Spark design (100% JVM in the hot loop).  Like the reference, which
keeps one register array and merges it with word-wise ops, registers
are packed, 8 six-bit fields per long:

- state(id, slot, packed): slot = register_index >> 3; ``packed`` holds
  registers ``slot*8 .. slot*8+7`` (48 bits used; rho ≤ HASH_BITS −
  log2m + 1 = 46 at the minimum log2m=3).  Rows are SPARSE — an absent
  (id, slot) row means eight zero registers, so a fresh counter is ONE
  row regardless of m = 2^log2m.
- merge = one (id, slot) groupBy with 8 shift/mask ``max`` aggregates
  and one repack.  The field maxes are algebraic, so map-side combine
  collapses hub fan-in (a 10⁸-in-degree hub receives one partial row
  per upstream task — no OOM, no salting), and the plan is O(1) wide
  in m: precision costs rows, not plan.  ``log2m`` is the reference
  ctor's precision knob (rel. std ≈ 1.04/sqrt(m)); the default m=64
  is the reference's own small-precision regime.
- systolic at SLOT granularity: only (id, slot) rows whose packed value
  changed last round emit messages; termination is "no packed word
  changed" (the natural fixpoint).
- the edge table is hash-partitioned by ``dst`` once
  (``graph.co_partitioned``), so per round only the frontier and the
  state rows exchange — the edge table never reshuffles in the loop.
- centralities need per-node estimates: :func:`_node_est` rebuilds the
  m-register estimate BIT-EXACTLY from per-slot partial sums, so the
  per-round (est − old_est) deltas equal the SQL oracle's.

The register hash is the engine-portable md5-prefix hash
(``functions.stable_long_hash``), so the full register state after t
rounds is bit-reproducible in ANSI SQL — the driver gate compares the
merged registers themselves (integers, no float tolerance), and the
unrolled DuckDB oracles below (one column per register) mirror the
Spark computation (:func:`hyperball_registers_sql` for the raw
registers, :func:`hyperball_centralities_sql` for the estimator +
per-round harmonic/closeness delta sums — for the centralities, the same
float expressions in the same association order, so 3-dp-rounded
outputs hash-match).
"""

from __future__ import annotations

import functools
import itertools
import math
import sys
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.algorithms.centrality import bounded_distances
from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.functions import stable_long_hash
from webgraph_big_spark.graph import Graph, co_partitioned
from webgraph_big_spark.transforms import BidirectionalGraph


def neighbourhood_function_exact(g: Graph, t_max: int) -> DataFrame:
    """(t, nf): #ordered pairs (x,y) with directed dist(x,y) ≤ t, incl.
    x=y, for t = 0..t_max — the exact function HyperBall approximates.
    Like the reference's ``NeighbourhoodFunction``, it comes from the
    same bounded distances as the geometric centralities: one
    per-distance count (≤ t_max+1 rows) summed up on the driver."""
    per_dist = dict(bounded_distances(g, t_max).groupBy("dist").count().collect())
    counts = list(enumerate(itertools.accumulate(per_dist.get(t, 0) for t in range(t_max + 1))))
    return g.edges.sparkSession.createDataFrame(counts, "t long, nf long")


def effective_diameter_value(nf: list[float], alpha: float = 0.9) -> float:
    """Interpolated effective diameter — smallest (fractional) d with
    NF(d) ≥ alpha·NF(last).  The reference's
    ``NeighbourhoodFunction.effectiveDiameter`` definition (the class
    its slow tests drive: ``EstimateEffectiveDiameterSlowTest.java:38``
    asserts a HyperBall estimate of this against the exact value)."""
    target = alpha * nf[-1]
    d = 0
    while nf[d] < target:
        d += 1
    if d == 0:
        return 0.0
    return (d - 1) + (target - nf[d - 1]) / (nf[d] - nf[d - 1])


def distance_stats(nf_df: DataFrame, alpha: float = 0.9) -> DataFrame:
    """One row ``(reachable_pairs, avg_distance, eff_diameter,
    median_distance, spid)`` from a ``(t, nf)`` neighbourhood function —
    the distance-distribution statistics the reference's
    ``NeighbourhoodFunction`` utility class derives (effectiveDiameter /
    averageDistance / medianDistance / spid, the index-of-dispersion
    web-vs-social discriminator of Boldi & Vigna's HyperANF work).
    ``median_distance`` is the smallest INTEGER t with NF(t) ≥ ½·NF(last)
    (the reference's definition — not interpolated, unlike the
    effective diameter).  If ``nf_df`` is truncated at some t_max
    short of the diameter, the statistics describe the distance
    distribution restricted to d ≤ t_max (both this and the DuckDB
    oracle in ``__spark_entry__`` apply the same truncation, so gate
    values agree at any scale factor).

    The NF table has at most diameter+1 rows, so the unpartitioned
    ordering window here is a deliberate tiny-data exception to the
    no-global-window rule (cf. ``sort_by_size``'s global_rank)."""
    from pyspark.sql import Window

    w = Window.orderBy("t")
    d = nf_df.select(
        "t",
        F.col("nf").cast("double").alias("nf"),
        (F.col("nf") - F.coalesce(F.lag("nf").over(w), F.lit(0)))
        .cast("double")
        .alias("cnt"),
        F.coalesce(F.lag("nf").over(w), F.lit(0)).cast("double").alias("pnf"),
    )
    tot = d.agg(F.max("nf")).first()[0]
    target = alpha * tot
    moments = d.agg(
        F.max("nf").cast("long").alias("reachable_pairs"),
        F.round((F.sum(F.col("t") * F.col("cnt")) / tot), 6).alias("avg_distance"),
        (F.sum(F.col("t") * F.col("t") * F.col("cnt")) / tot).alias("_m2"),
    )
    # interpolated effective diameter: the unique t whose [pnf, nf)
    # straddles the target (t=0 row has pnf=0; target ≤ nf(0) → 0.0)
    ed = d.select(
        F.when(
            (F.col("t") == 0) & (F.col("nf") >= F.lit(target)), F.lit(0.0)
        )
        .when(
            (F.col("t") > 0)
            & (F.col("nf") >= F.lit(target))
            & (F.col("pnf") < F.lit(target)),
            F.col("t") - 1 + (F.lit(target) - F.col("pnf")) / (F.col("nf") - F.col("pnf")),
        )
        .alias("_ed"),
        F.when(F.col("nf") >= F.lit(0.5 * tot), F.col("t")).alias("_md"),
    ).agg(F.min("_ed").alias("_ed"), F.min("_md").cast("long").alias("median_distance"))
    return (
        moments.crossJoin(ed)
        .select(
            "reachable_pairs",
            "avg_distance",
            F.round("_ed", 6).alias("eff_diameter"),
            "median_distance",
            F.round(
                F.when(
                    F.col("avg_distance") > 0,
                    (F.col("_m2") - F.col("avg_distance") * F.col("avg_distance"))
                    / F.col("avg_distance"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("spid"),
        )
    )


# ---------------------------------------------------------------------------
# HyperBall (approximate, HLL registers)
# ---------------------------------------------------------------------------

LOG2M = 6  # default precision: m=64 registers → rel. std ≈ 13%
HASH_BITS = 48  # md5-prefix hash width (functions.stable_long_hash)
_LN2 = math.log(2.0)


def _alpha(m: int) -> float:
    """HLL bias-correction constant (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _balanced_sum(terms: list[str]) -> str:
    """Sum of terms with BALANCED parenthesisation — expression depth
    log2(m), not m.  Both Spark's SQL parser and DuckDB's binder are
    recursion-depth-bound (a flat 1024-term ``+`` chain throws
    FAILED_TO_PARSE_TOO_COMPLEX), so the wide-register expressions nest
    as a tree.  The SAME tree is emitted for both engines, so the float
    association order — and therefore the gate hashes — stay identical."""
    return _balanced_expr(terms, "+")


def _balanced_expr(terms: list[str], op: str) -> str:
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return (
        f"({_balanced_expr(terms[:mid], op)} {op} {_balanced_expr(terms[mid:], op)})"
    )


def _est_expr(p: int) -> str:
    """HLL estimate of a counter from its ``_z`` = Σ 2^-r and ``_zeros``
    columns: α·m²/Σ2^-r with the small-range (linear counting)
    correction."""
    a = _alpha(p)
    return (
        f"CASE WHEN ({a * p * p} / _z) <= {2.5 * p} AND _zeros > 0 "
        f"THEN {float(p)} * ln({float(p)} / CAST(_zeros AS DOUBLE)) "
        f"ELSE ({a * p * p} / _z) END"
    )


@functools.lru_cache(maxsize=None)
def _cfg(log2m: int) -> SimpleNamespace:
    """Per-precision expression bundle for the m-register SQL oracles
    and the bit-exact per-node estimate (:func:`_node_est`).  All
    multi-register expressions are SQL STRINGS evaluated with one
    selectExpr/F.expr call: building m-term trees through the Column API
    costs one py4j round-trip per operator; a string is ONE call and
    parses JVM-side.  The log2m ≤ 12 cap bounds those m-term trees (the
    centralities and the unrolled oracles); the packed merge loop itself
    is O(1) in m and goes up to log2m = 20 (:func:`init_register_cols`)."""
    if not 4 <= log2m <= 12:
        raise ValueError(f"log2m must be in [4, 12], got {log2m}")
    p = 1 << log2m
    return SimpleNamespace(
        log2m=log2m,
        p=p,
        w_bits=HASH_BITS - log2m,
        zsum=_balanced_sum([f"exp({-_LN2} * r{k})" for k in range(p)]),
        zeros=_balanced_sum(
            [f"(CASE WHEN r{k} = 0 THEN 1 ELSE 0 END)" for k in range(p)]
        ),
        est_expr=_est_expr(p),
    )


def init_register_cols(log2m: int = LOG2M):
    """(j, rho) Columns for a node id — pure JVM expressions, mirrored
    exactly by :func:`register_init_sql` for the DuckDB oracle.

    h = 48-bit md5-prefix hash of the *decimal string* of the id;
    j = h & (m-1);  w = h >> log2m;  rho = (w_bits - bitlen(w)) + 1
    (bitlen via the binary-string length — exact, no float log).

    Valid for log2m in 3..20: m ≥ 8 fills at least one packed slot, and
    rho ≤ 46 fits a 6-bit field at every allowed precision.  This does
    not go through ``_cfg``, whose log2m ≤ 12 cap only bounds the m-term
    estimate trees."""
    if not 3 <= log2m <= 20:
        raise ValueError(f"log2m must be in [3, 20], got {log2m}")
    p = 1 << log2m
    w_bits = HASH_BITS - log2m
    h = stable_long_hash(F.col("id").cast("string"), bits=HASH_BITS)
    j = h.bitwiseAND(F.lit(p - 1))
    w = F.shiftrightunsigned(h, log2m)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(w)) + 1
    )
    return j.alias("j"), rho.cast("int").alias("rho")


# ---------------------------------------------------------------------------
# packed registers: 8 six-bit fields per long, bit-sliced max-merge
# ---------------------------------------------------------------------------

K = 8  # registers per long (8 divides every m = 2^log2m ≥ 8)
BITS = 6  # bits per register: rho ≤ HASH_BITS - log2m + 1 = 46 (log2m ≥ 3) < 63
MASK = (1 << BITS) - 1


def _field(expr: str, j: int) -> str:
    return f"(shiftright({expr}, {BITS * j}) & {MASK})"


def _repack(fields: list[str]) -> str:
    return _balanced_sum(
        [f"shiftleft({f}, {BITS * j})" for j, f in enumerate(fields)]
    )


def _greatest_packed(a: str, b: str) -> str:
    """Field-wise max of two packed longs — the bit-sliced merge."""
    return _repack(
        [f"greatest({_field(a, j)}, {_field(b, j)})" for j in range(K)]
    )


# one packed row's 8-term subtrees of Σ 2^-r and of the zero count
_ROW_ZSUM = _balanced_sum([f"exp({-_LN2} * {_field('packed', j)})" for j in range(K)])
_ROW_ZEROS = _balanced_sum(
    [f"(CASE WHEN {_field('packed', j)} = 0 THEN 1 ELSE 0 END)" for j in range(K)]
)


def _packed_init(g: Graph, log2m: int) -> DataFrame:
    """One row per node: the slot holding its own-hash register.
    init_register_cols validates log2m (3..20)."""
    return g.nodes().select("id", *init_register_cols(log2m)).selectExpr(
        "id",
        f"CAST((j div {K}) AS INT) AS slot",
        f"shiftleft(CAST(rho AS BIGINT), CAST((j % {K}) * {BITS} AS INT)) AS packed",
    )


def _packed_loop(g: Graph, t_max: int | None, log2m: int, on_round=None):
    """Systolic driver over sparse (id, slot, packed) rows, run on
    ``IterativeRunner``.  Returns the final state.  Hot path: two joins
    + one (id, slot) groupBy with 8 algebraic max aggregates — all
    codegen'd, O(1) plan width in m.  ``on_round(t, state)`` is called
    after each merge; the loop ends when no packed word changed or
    t_max is hit (``None`` runs to that fixpoint, which always comes:
    registers only grow and are bounded)."""
    # no ``distinct()`` before the pin: the field-wise max merge is
    # idempotent, duplicate arcs cannot change any register (guide §2.4)
    edges = co_partitioned(g.edges.select("src", "dst"), "dst", rows=g.num_arcs())
    max_aggs = [F.expr(f"max({_field('packed', j)})").alias(f"_f{j}") for j in range(K)]
    differs = F.col("packed") != F.col("old_packed")
    moved = None  # the latest round's observed changed-word count

    def initial() -> DataFrame:
        # round 0: every row is new (a packed word is never 0: rho ≥ 1)
        return _packed_init(g, log2m).select(
            "id", "slot", F.lit(0).cast("long").alias("old_packed"), "packed"
        )

    def step(state: DataFrame, t: int):
        nonlocal moved
        changed = state.filter(differs)
        # regs travel dst→src (x absorbs its successors' balls); the
        # groupBy-max gets partial aggregation, so hub fan-in
        # collapses map-side
        msgs = (
            edges.join(
                changed.select(F.col("id").alias("dst"), "slot", "packed").hint("shuffle_hash"),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "slot")
            .agg(*max_aggs)
            .selectExpr(
                "id",
                "slot",
                f"{_repack([f'_f{j}' for j in range(K)])} AS mpacked",
            )
        )
        # the changed-word count rides on the checkpoint job: the
        # fixpoint test costs no job of its own
        moved = Observation()
        merged = (
            state.select("id", "slot", "packed")
            .join(msgs.hint("shuffle_hash"), ["id", "slot"], "full")
            .selectExpr(
                "id",
                "slot",
                "coalesce(packed, CAST(0 AS BIGINT)) AS old_packed",
                f"{_greatest_packed('coalesce(packed, CAST(0 AS BIGINT))', 'coalesce(mpacked, CAST(0 AS BIGINT))')} AS packed",
            )
            .observe(moved, F.count_if(differs).alias("n"))
        )
        return merged

    def check(new: DataFrame, t: int) -> int:
        if on_round is not None:
            on_round(t + 1, new.select("id", "slot", "packed"))
        return moved.get["n"]

    runner = IterativeRunner(
        g.edges.sparkSession, max_iterations=sys.maxsize if t_max is None else t_max
    )
    try:
        return runner.run(initial, step, check=check).state.select("id", "slot", "packed")
    finally:
        edges.unpersist()


def hyperball(g: Graph, t_max: int | None, log2m: int = LOG2M) -> DataFrame:
    """(t, nf) for t = 0..t_max: the approximate neighbourhood function.
    The per-round estimate aggregates per-row partials (Σ 2^-field and
    zero-field counts) plus the absent-slot correction — absent rows are
    eight zero registers each.  ``t_max=None`` runs to the register
    fixpoint (no packed word changed — the reference slow tests'
    convergence criterion, ``HyperBallSlowTest.java:46-76``).  ``log2m``
    in 3..20."""
    spark = g.edges.sparkSession
    p = 1 << log2m
    results: list[tuple[int, float]] = []

    def estimate(state: DataFrame) -> float:
        per_node = (
            state.selectExpr("id", f"({_ROW_ZSUM}) AS _zr", f"({_ROW_ZEROS}) AS _kr")
            .groupBy("id")
            .agg(
                F.expr(f"sum(_zr) + ({p} - count(*) * {K}) * 1.0").alias("_z"),
                F.expr(f"sum(_kr) + ({p} - count(*) * {K})").alias("_zeros"),
            )
        )
        est = per_node.selectExpr(f"{_est_expr(p)} AS est")
        return float(est.agg(F.coalesce(F.sum("est"), F.lit(0.0))).first()[0])

    # NF(t) from the full state after each round (one aggregation per round)
    results.append((0, estimate(_packed_init(g, log2m))))
    _packed_loop(
        g, t_max, log2m, on_round=lambda t, state: results.append((t, estimate(state)))
    )
    # pad if the systolic loop converged early (NF is constant from there)
    while t_max is not None and len(results) <= t_max:
        results.append((len(results), results[-1][1]))
    return spark.createDataFrame(results, "t long, nf double")


def hyperball_registers(g: Graph, t_max: int, log2m: int = LOG2M) -> DataFrame:
    """(id, regs_csv): every node's merged register vector after
    ``t_max`` rounds, r0..r{m-1} as comma-joined decimal values (absent
    slots expand to zeros).  Integers only — the exactly-reproducible
    core the driver gates hash against the unrolled SQL oracle
    (:func:`hyperball_registers_sql`).  ``log2m`` in 3..20."""
    nslots = (1 << log2m) // K
    state = _packed_loop(g, t_max, log2m)
    dense = g.nodes().join(
        state.groupBy("id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("slot", "packed"))
            ).alias("_mp")
        ),
        "id",
        "left",
    )
    return dense.selectExpr(
        "id",
        "concat_ws(',', flatten(transform(sequence(0, {last}), "
        "s -> transform(sequence(0, {kk}), "
        "j -> CAST(shiftright(coalesce(element_at(_mp, s), CAST(0 AS BIGINT)), j * {bits}) & {mask} AS STRING)"
        ")))) AS regs_csv".format(
            last=nslots - 1, kk=K - 1, bits=BITS, mask=MASK
        ),
    )


def _node_est(state: DataFrame, log2m: int) -> DataFrame:
    """(id, est) from sparse packed state rows, BIT-EXACT with the SQL
    oracle's per-node estimate (``_cfg(log2m).est_expr`` over the m
    register columns).

    ``_cfg``'s m-term balanced summation tree splits at midpoints, so
    for m = 2^log2m it decomposes into m/8 CONTIGUOUS 8-term subtrees —
    one per slot — combined by a balanced tree over the slot partials.
    Each state row therefore computes its own 8-term subtree (register
    k extracted in index order; ``exp(0)=1.0`` exactly, so an ABSENT
    slot's partial is the compile-time constant 8.0 / zero-count 8), and
    the per-node combine folds the ≤ m/8 partials in slot order through
    the SAME upper tree.  Identical doubles in identical association
    order ⇒ identical estimate bits, which is what lets the centralities
    gate hash-match.  Generated code is O(m/8) per expression instead of
    O(m)."""
    c = _cfg(log2m)
    nslots = c.p // K
    rows = state.selectExpr("id", "slot", f"({_ROW_ZSUM}) AS _zr", f"({_ROW_ZEROS}) AS _kr")
    dense = rows.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("slot", "_zr"))).alias("_zm"),
        F.map_from_entries(F.collect_list(F.struct("slot", "_kr"))).alias("_km"),
    )
    zsum = _balanced_sum(
        [
            f"coalesce(element_at(_zm, {s}), CAST(8.0 AS DOUBLE))"
            for s in range(nslots)
        ]
    )
    zeros = _balanced_sum(
        [f"coalesce(element_at(_km, {s}), 8)" for s in range(nslots)]
    )
    return dense.selectExpr(
        "id", f"({zsum}) AS _z", f"({zeros}) AS _zeros"
    ).selectExpr("id", f"{c.est_expr} AS est")


def hyperball_centralities(
    g: Graph, t_max: int | None = None, discount=None, log2m: int = LOG2M
) -> DataFrame:
    """(id, reachable, harmonic, closeness, lin[, discounted]):
    HLL-estimated geometric centralities — ``algo/HyperBall.java:245``'s
    discounted sums.

    Counters run over the TRANSPOSE internally (centrality of x counts
    nodes that *reach* x, ``LinearGeometricCentrality.java:66-76``), so
    pass the graph itself, not its transpose.  Per round t, each node's
    ball grew by (est − old_est); harmonic adds that mass / t, the
    closeness denominator adds mass · t.  ``discount`` is the
    reference's pluggable discount-function extension point
    (``HyperBall.java:245`` discountFunction): a Python callable
    t → weight evaluated driver-side per round (t is a small integer),
    accumulating mass · discount(t) into a ``discounted`` column.
    Runs to the systolic fixpoint when ``t_max`` is None.  ``log2m`` in
    4..12 (``_cfg``).

    SQL-oracle mirror: :func:`hyperball_centralities_sql` — per-node
    estimates are bit-exact (:func:`_node_est`) and the deltas
    accumulate with the same expressions in the same left-associative
    order (rounds without change add exactly +0.0)."""
    gt = BidirectionalGraph(g).backward
    prev = [None]
    acc = [None]  # (id, harmonic, sumdist, discounted) accumulator

    def on_round(t, state):
        cur = _node_est(state, log2m).localCheckpoint(eager=True)
        dmass = F.col("est") - F.col("old_est")
        deltas = cur.join(
            prev[0].withColumnRenamed("est", "old_est").hint("shuffle_hash"), "id"
        ).select(
            "id",
            (dmass / F.lit(float(t))).alias("dh"),
            (dmass * F.lit(float(t))).alias("dd"),
            (dmass * F.lit(float(discount(t)) if discount else 0.0)).alias("dc"),
        )
        # accumulate LAZILY: the running join chain costs nothing per
        # round and is truncated every 4 rounds
        if acc[0] is None:
            acc[0] = deltas.select(
                "id",
                F.col("dh").alias("harmonic"),
                F.col("dd").alias("sumdist"),
                F.col("dc").alias("discounted"),
            )
        else:
            acc[0] = (
                acc[0]
                .join(deltas, "id", "full")
                .select(
                    "id",
                    (F.coalesce("harmonic", F.lit(0.0)) + F.coalesce("dh", F.lit(0.0))).alias("harmonic"),
                    (F.coalesce("sumdist", F.lit(0.0)) + F.coalesce("dd", F.lit(0.0))).alias("sumdist"),
                    (F.coalesce("discounted", F.lit(0.0)) + F.coalesce("dc", F.lit(0.0))).alias("discounted"),
                )
            )
        if t % 4 == 0:
            acc[0] = acc[0].localCheckpoint(eager=True)
        prev[0] = cur

    prev[0] = _node_est(_packed_init(gt, log2m), log2m).localCheckpoint(eager=True)
    _packed_loop(gt, t_max, log2m, on_round=on_round)
    base = prev[0].select("id", F.col("est").alias("reachable"))
    extra = [F.lit(0.0).alias("discounted")] if discount else []
    a = acc[0]
    if a is None:
        return base.select(
            "id",
            "reachable",
            F.lit(0.0).alias("harmonic"),
            F.lit(0.0).alias("closeness"),
            F.lit(0.0).alias("lin"),
            *extra,
        )
    extra = (
        [F.coalesce("discounted", F.lit(0.0)).alias("discounted")] if discount else []
    )
    return (
        base.join(a, "id", "left")
        .select(
            "id",
            "reachable",
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
            F.when(
                F.coalesce("sumdist", F.lit(0.0)) > 0,
                F.lit(1.0) / F.col("sumdist"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
            # Lin: |ball|² / Σ dist (1 for nodes reaching only themselves)
            F.when(
                F.coalesce("sumdist", F.lit(0.0)) > 0,
                F.col("reachable") * F.col("reachable") / F.col("sumdist"),
            )
            .otherwise(F.lit(1.0))
            .alias("lin"),
            *extra,
        )
    )


# ---------------------------------------------------------------------------
# SQL oracle generators for the register / centrality gates
# ---------------------------------------------------------------------------


def register_init_sql(nodes_cte: str, log2m: int = LOG2M) -> str:
    """DuckDB fragment computing (id, j, rho) — the exact mirror of
    :func:`init_register_cols` (same md5-prefix hash, same binary-string
    bit length)."""
    c = _cfg(log2m)
    h = "('0x' || substr(md5(id::VARCHAR), 1, 12))::BIGINT"
    return (
        f"_h AS MATERIALIZED (SELECT id, {h} AS h FROM {nodes_cte}), "
        f"_jr AS MATERIALIZED (SELECT id, h & {c.p - 1} AS j, "
        f"CASE WHEN (h // {c.p}) = 0 THEN {c.w_bits + 1} "
        f"ELSE {c.w_bits} - length(bin(h // {c.p})) + 1 END AS rho FROM _h)"
    )


def _register_rounds_sql(edge_sql: str, t_max: int, c: SimpleNamespace) -> list[str]:
    """Shared CTE chain: e, nodes, _h/_jr, s0..s{t_max} — the unrolled
    register recursion, one max-merge column per register per round
    (the same register values the packed Spark loop holds 8 per long)."""
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql}))",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        register_init_sql("nodes", c.log2m),
        "s0 AS MATERIALIZED (SELECT id, "
        + ", ".join(f"CASE WHEN j = {k} THEN rho ELSE 0 END AS r{k}" for k in range(c.p))
        + " FROM _jr)",
    ]
    for t in range(1, t_max + 1):
        maxes = ", ".join(f"max(ss.r{k}) AS r{k}" for k in range(c.p))
        merged = ", ".join(
            f"greatest(s.r{k}, coalesce(m.r{k}, 0)) AS r{k}" for k in range(c.p)
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT s.id, {merged} FROM s{t-1} s "
            f"LEFT JOIN (SELECT e.src AS id, {maxes} FROM e "
            f"JOIN s{t-1} ss ON e.dst = ss.id GROUP BY e.src) m ON m.id = s.id)"
        )
    return parts


def hyperball_registers_sql(edge_sql: str, t_max: int, log2m: int = LOG2M) -> str:
    """Unrolled DuckDB SQL reproducing ``hyperball_registers`` exactly:
    m per-register max-merge columns, t_max rounds, csv output."""
    c = _cfg(log2m)
    parts = _register_rounds_sql(edge_sql, t_max, c)
    # concat_ws keeps the expression tree flat (a 64-term || chain blows
    # DuckDB's binder recursion limit)
    csv = "concat_ws(','" + "".join(f", r{k}::VARCHAR" for k in range(c.p)) + ")"
    return ", ".join(parts) + f" SELECT id, {csv} AS regs_csv FROM s{t_max}"


def hyperball_nf_sql(
    edge_sql: str, t_max: int, log2m: int = LOG2M, round_dp: int = 3
) -> str:
    """Unrolled DuckDB SQL for the register-estimated neighbourhood
    function (t, nf): the same forward register recursion as
    ``hyperball_registers_sql``, then per round nf_t = Σ_id est(s_t)
    rounded at ``round_dp``.  The rounding absorbs float association
    differences: :func:`hyperball` folds per-row (per-slot) partials
    while this oracle folds a balanced m-term tree per node — registers
    are integer-exact either way, so the sums agree to ~1e-11 relative,
    far inside the rounding."""
    c = _cfg(log2m)
    parts = _register_rounds_sql(edge_sql, t_max, c)
    for t in range(t_max + 1):
        parts.append(
            f"z{t} AS MATERIALIZED (SELECT id, ({c.zsum}) AS _z, "
            f"({c.zeros}) AS _zeros FROM s{t})"
        )
        parts.append(
            f"e{t} AS MATERIALIZED (SELECT id, {c.est_expr} AS est FROM z{t})"
        )
    selects = " UNION ALL ".join(
        f"SELECT {t}::BIGINT AS t, round((SELECT sum(est) FROM e{t}), {round_dp}) AS nf"
        for t in range(t_max + 1)
    )
    return ", ".join(parts) + " " + selects


def hyperball_centralities_sql(
    edge_sql: str,
    t_max: int,
    log2m: int = LOG2M,
    round_dp: int = 3,
    full: bool = False,
    discount_weights: list[float] | None = None,
    full_dp: int = 2,
) -> str:
    """Unrolled DuckDB SQL reproducing ``hyperball_centralities(g,
    t_max)`` rounded per column.

    Mirrors the Spark computation term for term: the register recursion
    runs over the TRANSPOSE (swap src/dst); per round t the per-node
    estimate est_t is the same ``est_expr`` string evaluated on s_t's
    registers; harmonic = Σ_t (est_t − est_{t−1})/t accumulated LEFT
    ASSOCIATIVELY in increasing t (the exact order the incremental
    Spark accumulator adds them — untouched rounds contribute exactly
    +0.0, which is an IEEE no-op, so summing over all nodes/rounds here
    equals Spark's touched-only sums bit for bit); reachable = est_T.

    ``full=True`` adds closeness (1/Σ dist·Δmass), lin (|ball|²/Σ dist)
    and — when ``discount_weights`` gives the per-round weights
    w_t = discount(t), t = 1..t_max — the discounted centrality
    (``algo/HyperBall.java:245``'s discountFunction).  The derived
    float columns round at ``full_dp`` (coarser than the 3-dp
    reachable/harmonic columns: ratios of estimates amplify libm ULP
    divergence between engines, so the hash gate quantizes them one
    digit coarser)."""
    if discount_weights is not None and len(discount_weights) != t_max:
        # a short list would IndexError below; a LONGER one would
        # silently ignore the tail while the Spark side's discount
        # callable covers all rounds — diverging the gate undiagnosed
        raise ValueError(
            f"discount_weights has {len(discount_weights)} entries but "
            f"t_max={t_max} requires exactly one weight per round 1..t_max"
        )
    c = _cfg(log2m)
    transposed = f"SELECT dst AS src, src AS dst FROM ({edge_sql})"
    parts = _register_rounds_sql(transposed, t_max, c)
    for t in range(t_max + 1):
        parts.append(
            f"z{t} AS MATERIALIZED (SELECT id, ({c.zsum}) AS _z, "
            f"({c.zeros}) AS _zeros FROM s{t})"
        )
        parts.append(
            f"e{t} AS MATERIALIZED (SELECT id, {c.est_expr} AS est FROM z{t})"
        )
    if t_max == 0:
        harmonic, sumdist, discounted = "0.0", "0.0", "0.0"
    else:
        harmonic = " + ".join(
            f"((e{t}.est - e{t-1}.est) / {float(t)})" for t in range(1, t_max + 1)
        )
        sumdist = " + ".join(
            f"((e{t}.est - e{t-1}.est) * {float(t)})" for t in range(1, t_max + 1)
        )
        if discount_weights is not None:
            discounted = " + ".join(
                f"((e{t}.est - e{t-1}.est) * {float(discount_weights[t - 1])})"
                for t in range(1, t_max + 1)
            )
        else:
            discounted = "0.0"
    joins = "e0" + "".join(
        f" JOIN e{t} ON e{t}.id = e0.id" for t in range(1, t_max + 1)
    )
    last = f"e{t_max}"
    cols = (
        f"e0.id AS id, round({last}.est, {round_dp}) AS reachable, "
        f"round({harmonic}, {round_dp}) AS harmonic"
    )
    if full:
        cols += (
            f", round(CASE WHEN ({sumdist}) > 0 THEN CAST(1.0 AS DOUBLE) / ({sumdist}) "
            f"ELSE 0.0 END, {full_dp}) AS closeness"
            f", round(CASE WHEN ({sumdist}) > 0 THEN ({last}.est * {last}.est) / ({sumdist}) "
            f"ELSE CAST(1.0 AS DOUBLE) END, {full_dp}) AS lin"
        )
        if discount_weights is not None:
            cols += f", round({discounted}, {full_dp}) AS discounted"
    return ", ".join(parts) + f" SELECT {cols} FROM {joins}"
