"""The full §3.2 streaming lifecycle: chunk stream → stateful
document completion → analyst reactions (rules, alerts, events).

Reference flow (hive_service.go:129-219 → analyst.go:134-260): each
completed document fires rule evaluation and keyword alerting. Here
the completion stream's ``foreachBatch`` applies those reactions
transactionally per micro-batch — the worker-pool/channel machinery
(ST7) is replaced by Spark's own scheduling and backpressure.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from the_hive_spark.engine import ALERT_KEYWORD, HiveEngine, _order_all
from the_hive_spark.streaming.completion import completed_documents


def analyze_batch(engine: HiveEngine, completed: DataFrame) -> None:
    """Analyst reactions for one micro-batch of completed documents.

    Scale note: a micro-batch is usually small, but on an
    ``availableNow`` backlog replay (the "process existing files"
    path, S1) ONE batch is the entire backlog. So nothing here collects
    a row set: document ids leave as a DataFrame, and only
    ``evaluate_rules`` takes them to the driver, where the chunk index
    it reads already holds every chunk. The events numbered here are one row per
    completed document, the same bound as ``ingest_batch``'s events and
    audit rows (one per file), and the same ``row_number`` over one
    window numbers them; it pins no checkpointed RDD.
    """
    completed = completed.cache()
    try:
        if completed.isEmpty():
            return

        # completion events (events.go:36-62), numbered from 0; the
        # commit offsets them by the table's next id
        events = completed.select(
            (F.row_number().over(_order_all("document_id")) - 1).alias("id"),
            F.current_timestamp().alias("timestamp"),
            F.lit("ingest").alias("event_type"),
            F.col("document_id").alias("document_name"),
            F.format_string(
                "Document complete: %d chunks (%s)", "n_chunks", "completion_reason"
            ).alias("details"),
        )
        engine._append("events", events)

        # P7 keyword alert on the assembled text
        alerts = completed.filter(
            F.instr(F.upper("full_text"), ALERT_KEYWORD) > 0
        ).select(
            F.current_timestamp().alias("timestamp"),
            F.lit("ALERT").alias("alert_type"),
            F.format_string(
                "Document %s contains %s content", "document_id", F.lit(ALERT_KEYWORD)
            ).alias("message"),
            F.lit("warning").alias("level"),
            F.col("document_id").alias("document_id"),
            F.lit("").alias("organization_id"),
        )
        # a commit publishes nothing when the batch raised no alert
        engine._append("alerts", alerts)

        # standing rules against the completed docs (J3 single-doc mode;
        # chunks were upserted by the ingest leg of the pipeline); the
        # rules are read by pyarrow, so the guard runs no Spark job
        if engine.active_rule_rows():
            engine.evaluate_rules(document_ids=completed.select("document_id"))
    finally:
        # release the per-batch cache entry — CacheManager holds a
        # strong reference, so without this every micro-batch (or the
        # WHOLE corpus on an availableNow backlog batch) stays pinned
        # in storage memory for the life of the stream
        completed.unpersist()


def chunk_pipeline(
    engine: HiveEngine,
    chunk_stream: DataFrame,
    checkpoint_dir: str,
    timeout_ms: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Wire chunk arrivals through completion into analyst reactions.

    ``chunk_stream`` rows: CHUNK_INPUT_SCHEMA (document_id,
    chunk_index, content, total_chunks). ``available_now=True`` runs
    the S1 backlog-replay mode: drain everything already present
    (respecting source rate limits like maxFilesPerTrigger, so state
    still builds and drains per micro-batch) and stop.
    """
    kwargs = {} if timeout_ms is None else {"timeout_ms": timeout_ms}
    completed = completed_documents(chunk_stream, **kwargs)

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        analyze_batch(engine, batch_df)

    writer = (
        completed.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
