"""Deterministic id schemes (F3/F4, SURVEY.md §2.7).

The reference derives chunk ids as UUIDv5(SHA-1, namespace URL,
"{file_path}-{chunk_index}") so re-ingest is idempotent
(internal/server/ingest_handler.go:113-114, drone_client.go:40-42).
``uuid5_chunk_id`` reproduces those ids byte-for-byte (Python's
uuid.uuid5 is the same RFC-4122 construction) as a vectorized pandas
UDF. ``sha256_hex`` is the ST2 file-content hash — pure JVM.
"""

from __future__ import annotations

import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


@pandas_udf(StringType())
def _uuid5_url(name: pd.Series) -> pd.Series:
    ns = uuid.NAMESPACE_URL
    return name.map(lambda s: str(uuid.uuid5(ns, s)) if s is not None else None)


def uuid5_chunk_id(path: Column, chunk_index: Column) -> Column:
    """UUIDv5(ns=URL, "{path}-{index}") — bit-identical to the
    reference's ids, so idempotency tests can compare raw id values."""
    return _uuid5_url(F.concat(path, F.lit("-"), chunk_index.cast("string")))


def sha256_hex(content: Column) -> Column:
    """SHA-256 content hash for change detection (decision.go:101-114).
    Works on either binary or string columns; JVM-side."""
    return F.sha2(content, 256)


def dense_sequential_ids(
    df,
    order_col: str | list[str],
    base: int = 1,
    id_col: str = "id",
    with_total: bool = False,
):
    """AUTOINCREMENT-parity ids at cluster scale: dense, starting at
    ``base``, assigned in ``order_col`` order (a column name or a list
    of names for a compound sort key — ranks are EXACT either way, so
    results hash-match the single-partition ``row_number`` form).

    A bare ``row_number() OVER (ORDER BY …)`` funnels the whole input
    through ONE partition — fine for a micro-batch, fatal for a bulk
    backfill. This is the scalable form: range-partition by the order
    column(s), number rows *within* each partition, then add
    per-partition offsets computed from one tiny count-per-partition
    job (the DataFrame image of RDD.zipWithIndex's two-pass scheme).
    Global order holds because range partitions are themselves ordered.

    Returns df plus ``id_col`` — or ``(df, total_rows)`` when
    ``with_total=True``: the numbering pass already collects every
    partition's count, so callers that need n (NTILE banding) must not
    pay another full input scan for it.
    """
    from pyspark.sql import Window

    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    # localCheckpoint pins the range boundaries (repartitionByRange
    # SAMPLES its input — re-evaluating it in the counts job and the
    # numbering job could draw different partition boundaries and
    # misalign the offsets)
    ranged = (
        df.repartitionByRange(n, *[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = ranged.groupBy("_pid").count().collect()
    offsets, acc = {}, base
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[int(r["_pid"])] = acc
        acc += r["count"]
    # empty input → no offsets; create_map() rejects zero args
    off = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("_pid")
        ]
        if offsets
        else F.lit(base)
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        ranged.withColumn(
            id_col,
            (off + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )
    return (out, acc - base) if with_total else out


def ntile_from_rank(rank_col: str, n_rows: int, k: int):
    """NTILE(k) reconstructed from an exact 1-based global rank.

    Standard SQL NTILE semantics (Spark and DuckDB agree): with
    n = q·k + rem, the first ``rem`` buckets take q+1 rows and the
    rest take q. Pure integer arithmetic on the rank, so banding a
    :func:`dense_sequential_ids` rank gives results hash-identical to
    ``NTILE(k) OVER (ORDER BY …)`` — without the single-partition
    window the bare NTILE compiles to.
    """
    q, rem = divmod(n_rows, k)
    r = F.col(rank_col)
    if q == 0:
        # fewer rows than buckets: row i lands alone in bucket i
        return r.cast("bigint")
    big = rem * (q + 1)
    # doubles are exact for rank magnitudes here (< 2^53), and the
    # operands are positive, so cast-to-long == floor division
    in_big = ((r - 1) / F.lit(q + 1)).cast("long") + 1
    in_small = F.lit(rem) + ((r - big - 1) / F.lit(q)).cast("long") + 1
    return F.when(r <= big, in_big).otherwise(in_small).cast("bigint")


def distributed_prefix_sum(
    df, order_col: str | list[str], value_col: str, out_col: str = "prefix_sum"
):
    """Exclusive running sum of ``value_col`` in ``order_col`` order at
    cluster scale (row i gets the sum of all values strictly before it).
    ``order_col`` may be a list for a composite (lexicographic) order —
    range partitioning and windows both take multi-column keys natively,
    so callers must NEVER pack two keys into one integer arithmetically
    (a fixed shift silently reorders once ids outgrow it; the sf1 scale
    sweep caught exactly that in media_shard_manifest's kind+id key).

    Same two-pass scheme as :func:`dense_sequential_ids` — a bare
    ``SUM() OVER (ORDER BY …)`` is a single-partition funnel. Here:
    range-partition on the order column(s), running-sum *within* each
    partition, then add per-partition totals from one O(partitions)
    collect. Global order holds because range partitions are ordered.
    """
    from pyspark.sql import Window

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect()
    offsets, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[int(r["_pid"])] = acc
        acc += int(r["_t"] or 0)
    # empty input → no offsets; create_map() rejects zero args
    off = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("_pid")
        ]
        if offsets
        else F.lit(0)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.withColumn(
            out_col,
            (off + F.coalesce(F.sum(value_col).over(w), F.lit(0))).cast("long"),
        )
        .drop("_pid")
    )
