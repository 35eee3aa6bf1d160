"""ST1/ST2/ST5 — continuous directory ingestion as Structured Streaming.

The reference's drone stack (fsnotify watch + 500 ms debounce + initial
full scan + temp-file filters; internal/drone/watcher/manager.go:
272-398, debouncer.go:28-49, parser/dispatcher.go:52-77) collapses to
Spark's file source: it already does directory discovery, backlog
processing (`availableNow` trigger = "process existing files, then
keep watching"), only sees closed files (debounce), and checkpoints
exactly-once per-file progress. Change detection (ST2) and alerting
(ST5) ride inside `ingest_batch` via `foreachBatch`.

At scale the same pipeline points at object storage with file
notifications; nothing in the code changes but the input path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from the_hive_spark.engine import HiveEngine
from the_hive_spark.sources.dispatch import parse_file_udf

# S3/S4: temp-file + supported-type filters (dispatcher.go:52-77)
TEMP_FILE_PATTERN = r"(~\$|\._).*|.*\.tmp$"
SUPPORTED_EXTENSIONS = [
    "pdf", "docx", "txt", "md", "xlsx", "xls", "html", "htm", "eml",
]
# files per micro-batch: an availableNow backlog drains in batches of at
# most this many, which bounds ingest_batch's per-file rows and the
# chunks Arrow table it collects on the driver
MAX_FILES_PER_TRIGGER = 1000


def file_filters(df: DataFrame, path_col: str = "path") -> DataFrame:
    """S3 temp-file skip + S4 extension whitelist + P12 empty guard."""
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    ext = F.lower(F.element_at(F.split(base, r"\."), -1))
    return df.filter(
        ~base.rlike(TEMP_FILE_PATTERN)
        & ext.isin(SUPPORTED_EXTENSIONS)
        & (F.col("length") > 0)
    )


def watch(
    engine: HiveEngine,
    input_dir: str,
    checkpoint_dir: str,
    organization_id: str = "",
    available_now: bool = True,
    processing_interval: str = "5 seconds",
) -> StreamingQuery:
    """Watch a directory tree and ingest every supported file.

    availableNow=True reproduces the drone's "process existing backlog
    then pick up new files" behavior (S1 processExistingFiles +
    processEvents); False runs continuous micro-batches. Either way a
    micro-batch holds at most ``MAX_FILES_PER_TRIGGER`` files.
    """
    # the binaryFile source's fixed schema (streaming requires it explicit)
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = (
        engine.spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(input_dir)
    )
    files = file_filters(stream).select(
        "path",
        # S5 parser dispatch: every supported format → extracted text;
        # unparseable files yield null and are dropped (dispatcher.go
        # logs-and-skips the same way)
        parse_file_udf("path", "content").alias("content"),
        F.lit(organization_id).alias("organization_id"),
        F.create_map(
            F.lit("ingest_type"), F.lit("watch"),
            F.lit("filetype"),
            F.lower(F.element_at(F.split(F.element_at(F.split("path", "/"), -1), r"\."), -1)),
        ).alias("metadata"),
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # no emptiness probe: it would read the source a second time, and
        # ingest_batch returns early on a batch with nothing new
        engine.ingest_batch(batch_df.filter(F.col("content").isNotNull()))

    writer = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()
