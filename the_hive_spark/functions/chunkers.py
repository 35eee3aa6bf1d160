"""The two reference chunkers (F1/F2, SURVEY.md §2.7).

F1 — fixed windows, 1000 chars / 200 overlap (drone path,
internal/parser/chunker.go:16-52): implemented as a pure JVM generator
expression (see also operators.text_analysis.chunk_fixed which exposes
it over arbitrary params).

F2 — sentence-aware, 1000 chars / 100 overlap (server path,
internal/processor/chunker.go:17-97): from each window end, scan back
up to 200 chars for a sentence boundary ('.', '!', '?' followed by
space/newline, or a blank line) and break there if found. The
backscan is inherently sequential per text → Arrow-batched pandas UDF
returning array<string>, exploded by the caller. Chunk contents are
trimmed; empty text → no chunks (both match the reference's tests,
internal/processor/chunker_test.go).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

FIXED_SIZE = 1000
FIXED_OVERLAP = 200
SENTENCE_SIZE = 1000
SENTENCE_OVERLAP = 100
SENTENCE_BACKSCAN = 200

_BOUNDARY_CHARS = ".!?"


def chunk_fixed_expr(
    text_col: str, size: int = FIXED_SIZE, overlap: int = FIXED_OVERLAP
) -> Column:
    """F1 as a JVM array expression: windows of `size` advancing by
    `size - overlap`; caller posexplodes. Empty text → empty array."""
    step = size - overlap
    return F.expr(
        f"CASE WHEN length({text_col}) > 0 THEN "
        f"transform(sequence(1, cast(floor((length({text_col}) - 1) / {step}) as int) + 1),"
        f" i -> substring({text_col}, (i - 1) * {step} + 1, {size}))"
        f" ELSE array() END"
    )


def chunk_sentence_py(
    text: str,
    size: int = SENTENCE_SIZE,
    overlap: int = SENTENCE_OVERLAP,
    backscan: int = SENTENCE_BACKSCAN,
) -> list[str]:
    """Reference implementation of F2 (processor/chunker.go:17-97).

    Windows of `size`; if the window doesn't end the text, scan back up
    to `backscan` chars for a sentence boundary (./!/? + whitespace) or
    a blank line and cut there; next window starts `overlap` before the
    cut. Chunks are stripped; empties dropped.
    """
    if not text:
        return []
    chunks: list[str] = []
    n = len(text)
    start = 0
    while start < n:
        end = min(start + size, n)
        if end < n:
            cut = -1
            lo = max(start + 1, end - backscan)
            for j in range(end - 1, lo - 1, -1):
                if text[j] in _BOUNDARY_CHARS and j + 1 < n and text[j + 1] in " \n\t":
                    cut = j + 1
                    break
                if text[j] == "\n" and j > 0 and text[j - 1] == "\n":
                    cut = j + 1
                    break
            if cut > start:
                end = cut
        piece = text[start:end].strip()
        if piece:
            chunks.append(piece)
        if end >= n:
            break
        start = max(end - overlap, start + 1)
    return chunks


@pandas_udf(ArrayType(StringType()))
def chunk_sentence_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: chunk_sentence_py(t) if t is not None else [])
