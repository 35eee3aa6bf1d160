"""Join-strategy advisor: the ANALYZE-stats consumer.

``q_table_stats_profile`` (operators/analytics.py) measures per-table
row counts the way a catalog's ANALYZE would persist them; this module
turns those measurements into the decision every join in this engine
makes implicitly — broadcast the side that fits, shuffle otherwise —
as an inspectable table instead of a hunch. It is the library form of
what AQE decides at runtime from actual partition sizes; the advisor's
value is BEFORE runtime: pipeline authors (and tests) can assert that
a dimension they believe broadcastable actually is at the target scale
factor, and catch the fact-sized "dimension" mistake (the round-3
review's q_rolling_revenue_7d finding) by measurement.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# conservative serialized-row estimate when no width is supplied:
# TPC-H-ish rows are a few short strings + a handful of numerics
DEFAULT_BYTES_PER_ROW = 64


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    raw = raw.strip().lower()
    for suffix, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                         ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                         ("b", 1)):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * mult)
    return int(raw)


def join_advice(
    spark: SparkSession,
    sf_dir: str,
    bytes_per_row: int = DEFAULT_BYTES_PER_ROW,
) -> DataFrame:
    """Per-table broadcast-vs-shuffle advice from measured stats.

    Returns (tbl, n_rows, est_bytes, threshold_bytes, advice) where
    advice is 'broadcast' when the estimated serialized size fits the
    session's autoBroadcastJoinThreshold, else 'shuffle'. Row counts
    come from the same single-pass-per-table profile the ANALYZE query
    ships; the width estimate is deliberately crude — the point is the
    order of magnitude, and callers with real widths pass them in.
    """
    from the_hive_spark.operators.analytics import q_table_stats_profile

    threshold = _broadcast_threshold_bytes(spark)
    per_table = (
        q_table_stats_profile(spark, sf_dir)
        .groupBy("tbl")
        .agg(F.max("n_rows").cast("bigint").alias("n_rows"))
    )
    est = (F.col("n_rows") * bytes_per_row).cast("bigint")
    return per_table.select(
        "tbl",
        "n_rows",
        est.alias("est_bytes"),
        F.lit(threshold).cast("bigint").alias("threshold_bytes"),
        F.when(est <= threshold, "broadcast").otherwise("shuffle").alias(
            "advice"
        ),
    )


class JoinDecision:
    """Measured broadcast-vs-shuffle verdict for one relation."""

    __slots__ = ("broadcast", "n_rows", "est_bytes", "threshold_bytes")

    def __init__(self, broadcast: bool, n_rows: int, est_bytes: int,
                 threshold_bytes: int) -> None:
        self.broadcast = broadcast
        self.n_rows = n_rows
        self.est_bytes = est_bytes
        self.threshold_bytes = threshold_bytes

    def __repr__(self) -> str:  # shows up in plan-report logs
        return (
            f"JoinDecision(broadcast={self.broadcast}, n_rows={self.n_rows},"
            f" est_bytes={self.est_bytes},"
            f" threshold_bytes={self.threshold_bytes})"
        )


def advise_rowcount(
    spark, n: int, bytes_per_row: int = DEFAULT_BYTES_PER_ROW
) -> JoinDecision:
    """Runtime form of :func:`join_advice` for one relation whose row
    count (or a tight upper bound) the caller already holds on the
    driver, e.g. a per-batch id list's length: compare the estimated
    serialized size with the session's broadcast threshold. Zero
    cluster work. It exists for decisions AQE cannot make: AQE can
    demote a shuffle join to broadcast at runtime, but it can never
    swap one plan shape for another, e.g. an exact driver-side top-k
    for a banded-LSH index pass. An upper bound is conservatively safe:
    it can only demote the small-side path, never pick it for something
    too big."""
    threshold = _broadcast_threshold_bytes(spark)
    est = n * bytes_per_row
    return JoinDecision(est <= threshold, int(n), est, threshold)
