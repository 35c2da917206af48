"""Scalar function surface (SURVEY.md §2.7) — all JVM-side expressions.

The reference's scalar kernels are numeric/bit-level; each maps to a
built-in Spark SQL expression (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# TypedGraph bit packing (typed/TypedGraph.java:48-62): a node is a
# 16-bit type ⊕ 48-bit per-type id packed into one long.
_ID_BITS = 48
_ID_MASK = (1 << _ID_BITS) - 1


def pack_node(typ: Column, node_id: Column) -> Column:
    """``TypedGraph.node(type, id)`` — type<<48 | id."""
    return (
        F.shiftleft(typ.cast("long"), _ID_BITS)
        + node_id.cast("long").bitwiseAND(F.lit(_ID_MASK))
    ).cast("long")


def node_type(packed: Column) -> Column:
    """``TypedGraph.type(node)`` — top 16 bits."""
    return F.shiftrightunsigned(packed.cast("long"), _ID_BITS).cast("long")


def node_id(packed: Column) -> Column:
    """``TypedGraph.id(node)`` — low 48 bits."""
    return packed.cast("long").bitwiseAND(F.lit(_ID_MASK)).cast("long")


def stable_long_hash(col: Column, bits: int = 48) -> Column:
    """Deterministic, engine-portable string → non-negative long hash:
    the first ``bits/4`` hex chars of md5.  Identical in DuckDB as
    ``('0x' || substr(md5(x), 1, k))::BIGINT`` — the cross-engine hashing
    primitive for minhash/simhash/fingerprints (replaces the reference's
    CRC64, ``webbase/CRC64.java:13``, with a portable equivalent)."""
    k = bits // 4
    return F.conv(F.substring(F.md5(col), 1, k), 16, 10).cast("long")


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rank",
    partitions: int | None = None,
) -> DataFrame:
    """Scalable global 0-based rank by ``order_cols`` (which must be a
    UNIQUE key) — the ``zipWithIndex`` pattern replacing single-task
    ``Window.orderBy`` sorts in dense-id assignment / renumbering.

    Plan: one range shuffle (``repartitionByRange`` + intra-partition
    sort), a tiny per-partition count collect, a driver-side cumulative
    offset (≤ #partitions rows), then offset + intra-partition position
    via one Arrow-batched ``mapInPandas`` counter.  No stage ever sorts
    more than one partition's rows; at 10⁹ ids this is #partitions
    parallel sorts instead of one global single-task sort.

    Rank values are independent of where the (sampled) range boundaries
    fall because ``order_cols`` is unique — document/enforce uniqueness
    upstream.
    """
    import pandas as pd  # local: keep module import light

    spark = df.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    arranged = (
        df.repartitionByRange(partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # materialize ONCE: the range boundaries are sampled, so the
        # count job and the position job must see the same partitioning
        .localCheckpoint(eager=True)
    )
    # per-partition local position, Arrow-batched, no shuffle
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(arranged.schema.fields) + [T.StructField("_pos", T.LongType())]
    )

    def add_pos(it):
        seen = 0
        for pdf in it:
            pdf = pdf.assign(_pos=range(seen, seen + len(pdf)))
            seen += len(pdf)
            yield pdf

    with_pos = arranged.mapInPandas(add_pos, schema=out_schema)
    counts = (
        arranged.groupBy("_pid").count().collect()
    )  # ≤ `partitions` rows on the driver
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    return (
        with_pos.join(off_df, "_pid")
        .withColumn(out, (F.col("_off") + F.col("_pos")).cast("long"))
        .drop("_pid", "_pos", "_off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value: str,
    out: str = "cum",
    partitions: int | None = None,
) -> DataFrame:
    """Scalable INCLUSIVE prefix sum of ``value`` in ``order_cols`` order
    (which must be a unique key) — the weighted sibling of
    :func:`global_rank`, replacing single-task ``Window.orderBy`` prefix
    sums (e.g. cumulative outdegree for arc-balanced splitting).

    Plan: one range shuffle + intra-partition sort, a per-partition SUM
    collected to the driver (≤ #partitions rows), a driver-side offset
    cumsum, then offset + intra-partition running sum via one
    Arrow-batched ``mapInPandas``.  No stage ever sorts or scans more
    than one partition's rows serially.
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the accumulator type follows the value column (an int64 cast on a
    # double column would silently truncate and compound across batches)
    vtype = df.schema[value].dataType
    if isinstance(vtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        run_type, np_type, sql_type, py = T.LongType(), "int64", "long", int
    elif isinstance(vtype, (T.DoubleType, T.FloatType)):
        run_type, np_type, sql_type, py = T.DoubleType(), "float64", "double", float
    else:
        raise TypeError(
            f"global_cumsum: value column {value!r} has type "
            f"{vtype.simpleString()}; only integral and floating columns "
            "are supported"
        )
    arranged = (
        df.repartitionByRange(partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # materialize ONCE: sampled range boundaries must be identical
        # for the per-partition-sum job and the running-sum job
        .localCheckpoint(eager=True)
    )
    out_schema = T.StructType(
        list(arranged.schema.fields) + [T.StructField("_run", run_type)]
    )

    def add_running(it):
        acc = py(0)
        for pdf in it:
            run = pdf[value].cumsum() + acc
            acc = py(run.iloc[-1]) if len(run) else acc
            yield pdf.assign(_run=run.astype(np_type))

    with_run = arranged.mapInPandas(add_running, schema=out_schema)
    sums = arranged.groupBy("_pid").agg(F.sum(value).alias("s")).collect()
    offsets, acc = {}, py(0)
    for row in sorted(sums, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += py(row["s"] or 0)
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), py(o)) for p, o in offsets.items()],
            f"_pid int, _off {sql_type}",
        )
    )
    return (
        with_run.join(off_df, "_pid")
        .withColumn(out, (F.col("_off") + F.col("_run")).cast(sql_type))
        .drop("_pid", "_run", "_off")
    )
