"""Streaming tests: watch-dir ingest (ST1/ST2), stateful doc-completion
(ST3), liveness derivation (ST6/A6)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from the_hive_spark.engine import HiveEngine
from the_hive_spark.streaming.completion import (
    CHUNK_INPUT_SCHEMA,
    completed_documents,
)
from the_hive_spark.streaming.liveness import online_clients
from the_hive_spark.streaming.watch import file_filters, watch
from tests.fixtures import SEED_DOCS


@pytest.fixture()
def dirs(tmp_path):
    w = tmp_path / "watch"
    w.mkdir()
    return {
        "watch": str(w),
        "checkpoint": str(tmp_path / "ckpt"),
        "warehouse": str(tmp_path / "wh"),
    }


def _write(watch_dir: str, name: str, text: str) -> None:
    with open(os.path.join(watch_dir, name), "w") as f:
        f.write(text)


def _await_rows(spark, query, table, predicate, timeout=90):
    """Poll a memory sink until predicate(rows) holds.

    processAllAvailable() never returns while ProcessingTimeTimeout
    keeps scheduling "clean up state" batches, so poll instead.
    """
    deadline = time.time() + timeout
    while time.time() < deadline:
        exc = query.exception()
        if exc is not None:
            raise exc
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        if predicate(rows):
            return rows
        time.sleep(0.5)
    raise AssertionError(
        f"timed out waiting on {table}; last rows: "
        f"{spark.sql(f'SELECT * FROM {table}').collect()}"
    )


def test_watch_ingests_backlog_then_increment(spark, dirs):
    """availableNow trigger processes existing files; a second run picks
    up only the new file (file-source checkpoint = exactly-once)."""
    for name, text in list(SEED_DOCS.items())[:3]:
        _write(dirs["watch"], name, text)
    # noise that the S3/S4 filters must drop
    _write(dirs["watch"], "~$temp.docx", "x")
    _write(dirs["watch"], "notes.xyz", "unsupported")
    _write(dirs["watch"], "empty.md", "")

    eng = HiveEngine(spark, dirs["warehouse"], embedding_dim=32)
    q = watch(eng, dirs["watch"], dirs["checkpoint"])
    q.awaitTermination(120)

    docs = {r["filename"] for r in eng.read_table("documents").collect()}
    assert docs == set(list(SEED_DOCS)[:3])

    def rows_read(query):
        return sum(p["numInputRows"] for p in query.recentProgress)

    # each trigger reads its source once: one row per landed file, less
    # empty.md, which the pushed-down length filter skips in the source
    assert rows_read(q) == 5

    _write(dirs["watch"], "delta_research.md", SEED_DOCS["delta_research.md"])
    q2 = watch(eng, dirs["watch"], dirs["checkpoint"])
    q2.awaitTermination(120)
    assert rows_read(q2) == 1
    docs2 = {r["filename"] for r in eng.read_table("documents").collect()}
    assert docs2 == set(list(SEED_DOCS)[:3]) | {"delta_research.md"}
    # re-run with nothing new: chunk count stable (ST2 + checkpoint)
    n = eng.read_table("chunks").count()
    q3 = watch(eng, dirs["watch"], dirs["checkpoint"])
    q3.awaitTermination(120)
    assert eng.read_table("chunks").count() == n


def test_watch_drains_a_backlog_in_bounded_triggers(spark, tmp_path, monkeypatch):
    """With the files-per-trigger bound at 2, an availableNow backlog of
    5 files drains in 3 micro-batches of 2, 2 and 1 files and leaves the
    same documents and chunks rows as one trigger over the whole
    backlog does."""
    from the_hive_spark.streaming import watch as watch_mod

    src = tmp_path / "watch"
    src.mkdir()
    for name, text in SEED_DOCS.items():
        _write(str(src), name, text)

    def drain(run: str):
        eng = HiveEngine(spark, str(tmp_path / run / "wh"), embedding_dim=16)
        q = watch(eng, str(src), str(tmp_path / run / "ckpt"))
        q.awaitTermination(180)
        docs = {
            (r["id"], r["filename"], r["organization_id"], r["metadata"]["file_hash"])
            for r in eng.read_table("documents").collect()
        }
        chunks = {
            (r["id"], r["document_id"], r["content"], r["chunk_index"],
             tuple(r["embedding"]), tuple(r["tags"]))
            for r in eng.read_table("chunks").collect()
        }
        return [p["numInputRows"] for p in q.recentProgress], docs, chunks

    one = drain("one")
    monkeypatch.setattr(watch_mod, "MAX_FILES_PER_TRIGGER", 2)
    bounded = drain("bounded")
    assert one[0] == [5]
    assert bounded[0] == [2, 2, 1]
    assert len(one[1]) == 5 and one[2]
    assert bounded[1:] == one[1:]


def test_file_filters(spark):
    rows = [
        ("/d/ok.md", 10),
        ("/d/~$lock.docx", 10),
        ("/d/._hidden.txt", 10),
        ("/d/tmpfile.tmp", 10),
        ("/d/archive.zip", 10),
        ("/d/empty.txt", 0),
        ("/d/page.html", 5),
    ]
    df = spark.createDataFrame(rows, "path string, length long")
    kept = {r["path"] for r in file_filters(df).collect()}
    assert kept == {"/d/ok.md", "/d/page.html"}


def test_completion_by_count_and_timeout(spark, tmp_path):
    """Out-of-order chunks: docA completes when count == total_chunks
    (text assembled in chunk_index order); docB has no total and
    completes via the 2 s inactivity timeout."""
    src = tmp_path / "chunks_in"
    src.mkdir()
    rows = [
        ("docA", 2, "third part", 3),
        ("docA", 0, "first part", 3),
        ("docA", 1, "second part", 3),
        ("docB", 0, "only one so far", None),  # completes by timeout
    ]
    spark.createDataFrame(rows, CHUNK_INPUT_SCHEMA).write.parquet(
        str(src / "batch0")
    )
    stream = spark.readStream.schema(CHUNK_INPUT_SCHEMA).parquet(str(src / "*"))
    out = completed_documents(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("completed_docs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        rows_out = _await_rows(
            spark, q, "completed_docs", lambda rs: len(rs) >= 2
        )
    finally:
        q.stop()
    got = {r["document_id"]: r for r in rows_out}
    assert got["docA"]["n_chunks"] == 3
    assert got["docA"]["full_text"] == "first part\n\nsecond part\n\nthird part"
    assert got["docA"]["completion_reason"] == "count"
    assert got["docB"]["completion_reason"] == "timeout"
    assert got["docB"]["full_text"] == "only one so far"


def test_completion_idempotent_redelivery(spark, tmp_path):
    """ST4: re-delivered chunk_index replaces, doesn't double-count.

    The redelivery arrives in a *later* micro-batch (row order inside
    one batch is nondeterministic, matching the reference where a gRPC
    retry is always a later arrival)."""
    src = tmp_path / "chunks_in"
    src.mkdir()
    spark.createDataFrame(
        [("docC", 0, "v1 of chunk0", 2)], CHUNK_INPUT_SCHEMA
    ).write.parquet(str(src / "b0"))
    time.sleep(1.1)  # distinct modification times → stable batch order
    spark.createDataFrame(
        [("docC", 0, "v2 of chunk0", 2), ("docC", 1, "chunk1", 2)],
        CHUNK_INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(CHUNK_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        # long timeout: this test asserts count-completion semantics and
        # must not race the inactivity timer on a loaded machine
        completed_documents(stream, timeout_ms=120_000)
        .writeStream.format("memory")
        .queryName("completed_docs2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        rows_out = _await_rows(
            spark, q, "completed_docs2", lambda rs: len(rs) >= 1
        )
    finally:
        q.stop()
    assert len(rows_out) == 1
    assert rows_out[0]["n_chunks"] == 2
    assert rows_out[0]["full_text"] == "v2 of chunk0\n\nchunk1"


def test_online_clients_derivation(spark):
    now = F.to_timestamp(F.lit("2026-01-01 12:00:00"))
    rows = [
        ("k1", True, "2026-01-01 11:58:00"),   # 2 min ago → online
        ("k2", True, "2026-01-01 11:50:00"),   # 10 min ago → offline
        ("k3", False, "2026-01-01 11:59:00"),  # inactive → offline
        ("k4", True, None),                     # never seen → offline
    ]
    df = spark.createDataFrame(
        rows, "key string, is_active boolean, seen string"
    ).withColumn("last_seen_at", F.to_timestamp("seen"))
    got = {
        r["key"]: r["is_online"]
        for r in online_clients(df, now=now).collect()
    }
    assert got == {"k1": True, "k2": False, "k3": False, "k4": False}


def test_chunk_pipeline_end_to_end(spark, tmp_path):
    """§3.2 streaming lifecycle: chunk stream → completion → events +
    alerts + rule matches."""
    from the_hive_spark.engine import HiveEngine
    from the_hive_spark.streaming.pipeline import chunk_pipeline

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.add_rule(7, "Does this document contain confidential pricing?")
    # pre-ingest the doc so rule evaluation has chunks to read
    eng.ingest_batch(
        spark.createDataFrame(
            [("docX", "chunk one has CONFIDENTIAL pricing", "", {})],
            "path string, content string, organization_id string, "
            "metadata map<string,string>",
        )
    )
    src = tmp_path / "chunks_in"
    src.mkdir()
    rows = [
        ("docX", 0, "chunk one has CONFIDENTIAL pricing", 2),
        ("docX", 1, "chunk two is harmless", 2),
    ]
    spark.createDataFrame(rows, CHUNK_INPUT_SCHEMA).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(CHUNK_INPUT_SCHEMA).parquet(str(src / "*"))
    q = chunk_pipeline(eng, stream, str(tmp_path / "ckpt"), timeout_ms=120_000)
    def pipeline_done() -> bool:
        # the batch-ingest leg already fires its own alert, so wait on
        # the streaming-only artifacts: completion event + rule match
        ev = eng.read_table("events").filter(
            F.col("details").contains("Document complete")
        )
        return (not ev.isEmpty()) and (not eng.read_table("rule_matches").isEmpty())

    deadline = time.time() + 90
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if pipeline_done():
                break
            time.sleep(1)
    finally:
        q.stop()
    alerts = eng.read_table("alerts").collect()
    assert any(a["document_id"] == "docX" for a in alerts)
    events = eng.read_table("events").collect()
    assert any("Document complete: 2 chunks (count)" in e["details"] for e in events)
    matches = eng.read_table("rule_matches").collect()
    assert any(m["rule_id"] == 7 and m["uploaded_doc"] == "docX" for m in matches)


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """Batch/stream parity for the event-time windowed aggregation:
    the same parquet input aggregated as a batch DataFrame and as a
    file-source stream (availableNow, append mode after the watermark
    closes every window) must agree row-for-row."""
    import pandas as pd

    from the_hive_spark.streaming.windows import (
        windowed_event_counts,
        windowed_user_activity,
    )

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:05:00")
    rows = [
        {
            "ts": base + pd.Timedelta(minutes=7 * i),
            "user_id": i % 3,
            "event_type": ["view", "click"][i % 2],
            "value": float(i) / 4,
        }
        for i in range(40)
    ]
    # µs precision + UTC: the session reads TIMESTAMP(NANOS) as long
    # (driver-testdata workaround) and tz-naive parquet as
    # TIMESTAMP_NTZ — micros + tz give a clean event-time TIMESTAMP
    def _dump(frame: pd.DataFrame, name: str) -> None:
        frame = frame.astype({"ts": "datetime64[us]"})
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        frame.to_parquet(src / name)

    _dump(pd.DataFrame(rows), "a.parquet")
    # a far-future row pushes the watermark past every earlier window
    # so append mode emits them
    _dump(
        pd.DataFrame(
            [{
                "ts": base + pd.Timedelta(days=2),
                "user_id": 0,
                "event_type": "view",
                "value": 0.0,
            }]
        ),
        "z.parquet",
    )

    batch_df = spark.read.parquet(str(src))
    stream_df = spark.readStream.schema(batch_df.schema).parquet(str(src))

    for fn, sink in [
        (windowed_event_counts, "win_counts"),
        (windowed_user_activity, "win_users"),
    ]:
        q = (
            fn(stream_df, window="30 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            tuple(str(v) for v in r)
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }
        want_df = fn(batch_df, window="30 minutes", watermark="10 minutes")
        want_all = {tuple(str(v) for v in r) for r in want_df.collect()}
        # append mode withholds windows the watermark hasn't closed —
        # here that is exactly the far-future sentinel's window
        assert got, f"{sink}: stream emitted nothing"
        assert got.issubset(want_all), f"{sink}: stream ⊄ batch: {got - want_all}"
        missing = {
            t for t in want_all - got
            if not t[0].startswith("2024-03-03")
        }
        assert not missing, f"{sink}: closed windows missing: {missing}"


def test_stream_stream_attribution_equals_batch(spark, tmp_path):
    """Batch/stream parity for the watermarked stream-stream interval
    join (conversion attribution): same parquet input joined as batch
    and as two watermarked file-source streams must agree on every
    pair the watermark has closed."""
    import pandas as pd

    from the_hive_spark.streaming.windows import attributed_conversions

    src = tmp_path / "conv"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = []
    # per user: clicks every 11 min, purchases every 50 min — some
    # purchases attribute to several clicks, some clicks to none
    for i in range(60):
        rows.append({
            "ts": base + pd.Timedelta(minutes=11 * i),
            "user_id": i % 4,
            "event_type": "click",
            "event_id": 1000 + i,
        })
    for j in range(12):
        rows.append({
            "ts": base + pd.Timedelta(minutes=50 * j + 5),
            "user_id": j % 4,
            "event_type": "purchase",
            "event_id": 2000 + j,
        })

    def _dump(frame: pd.DataFrame, name: str) -> None:
        frame = frame.astype({"ts": "datetime64[us]"})
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        frame.to_parquet(src / name)

    _dump(pd.DataFrame(rows), "a.parquet")
    # far-future sentinel closes the watermark over everything above
    _dump(
        pd.DataFrame(
            [{
                "ts": base + pd.Timedelta(days=3),
                "user_id": 0,
                "event_type": "view",
                "event_id": 9999,
            }]
        ),
        "z.parquet",
    )

    batch_df = spark.read.parquet(str(src))
    stream_df = spark.readStream.schema(batch_df.schema).parquet(str(src))

    q = (
        attributed_conversions(stream_df, within="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("conv_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(str(v) for v in r)
        for r in spark.sql("SELECT * FROM conv_pairs").collect()
    }
    want = {
        tuple(str(v) for v in r)
        for r in attributed_conversions(
            batch_df, within="30 minutes", watermark="10 minutes"
        ).collect()
    }
    assert want, "batch oracle produced no pairs — fixture broken"
    assert got == want, (
        f"stream≠batch: extra={got - want} missing={want - got}"
    )


def test_incremental_near_dup_stream_equals_batch(spark, tmp_path):
    """Batch/stream parity for incremental MinHash dedup: new docs
    screened against a static banded corpus index must produce the
    same (new_doc_id, corpus_doc_id, band) hits whether the new docs
    arrive as a batch DataFrame or as a file-source stream (the whole
    pipeline is stateless map + stream-static equi-join)."""
    import pandas as pd

    from the_hive_spark.operators.dedup import (
        N_MINHASH,
        band_signatures,
        incremental_near_dup_candidates,
        with_minhash_cols,
    )

    base = "the quick brown fox jumps over the lazy dog while counting "
    corpus_rows = [
        {"doc_id": i, "text": base + f"sheep number {i % 4}"} for i in range(20)
    ]
    corpus = spark.createDataFrame(pd.DataFrame(corpus_rows))
    corpus_bands = band_signatures(
        with_minhash_cols(corpus).select(
            "doc_id", *[f"mh{s}" for s in range(N_MINHASH)]
        )
    ).cache()

    # near-dups of corpus docs + one unrelated doc + one too-short doc
    new_rows = [
        {"doc_id": 100, "text": base + "sheep number 0"},
        {"doc_id": 101, "text": base + "sheep number 3 extra tail"},
        {"doc_id": 102, "text": "completely different content here entirely"},
        {"doc_id": 103, "text": "abc"},
    ]
    src = tmp_path / "newdocs"
    src.mkdir()
    pd.DataFrame(new_rows).to_parquet(src / "batch0.parquet")

    batch_df = spark.read.parquet(str(src))
    expected = sorted(
        tuple(r)
        for r in incremental_near_dup_candidates(batch_df, corpus_bands)
        .select("new_doc_id", "corpus_doc_id", "band")
        .collect()
    )
    assert expected, "fixture must produce at least one candidate hit"
    assert not any(t[0] in (102, 103) for t in expected), (
        "unrelated/short docs must not hit the index"
    )

    stream = spark.readStream.schema(batch_df.schema).parquet(str(src))
    got = incremental_near_dup_candidates(stream, corpus_bands)
    q = (
        got.writeStream.format("memory")
        .queryName("inc_dedup_hits")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT new_doc_id, corpus_doc_id, band FROM inc_dedup_hits"
        ).collect()
    )
    assert streamed == expected


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Batch/stream parity for session_window sessionization: bursts
    separated by > gap must come out as distinct finalized sessions,
    identical between the batch run and the availableNow stream for
    every session the watermark has closed."""
    import pandas as pd

    from the_hive_spark.streaming.windows import user_sessions

    src = tmp_path / "sess"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = []
    # two users, three bursts each (burst = 3 events 2 min apart),
    # bursts separated by 90 min >> the 30 min gap
    for user in (1, 2):
        for burst in range(3):
            for k in range(3):
                rows.append(
                    {
                        "ts": base
                        + pd.Timedelta(minutes=90 * burst + 2 * k + user),
                        "user_id": user,
                        "event_type": "view",
                        "value": 0.25 * k,
                    }
                )

    def _dump(frame: pd.DataFrame, name: str) -> None:
        frame = frame.astype({"ts": "datetime64[us]"})
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        frame.to_parquet(src / name)

    _dump(pd.DataFrame(rows), "a.parquet")
    # far-future sentinel closes every real session in append mode
    _dump(
        pd.DataFrame(
            [{
                "ts": base + pd.Timedelta(days=2),
                "user_id": 1,
                "event_type": "view",
                "value": 0.0,
            }]
        ),
        "z.parquet",
    )

    batch_df = spark.read.parquet(str(src))
    stream_df = spark.readStream.schema(batch_df.schema).parquet(str(src))

    q = (
        user_sessions(stream_df, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(str(v) for v in r)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    want = {
        tuple(str(v) for v in r)
        for r in user_sessions(batch_df, gap="30 minutes").collect()
    }
    assert got, "stream emitted no sessions"
    assert got.issubset(want), f"stream ⊄ batch: {got - want}"
    missing = {t for t in want - got if not t[0].startswith("2024-03-03")}
    assert not missing, f"closed sessions missing from stream: {missing}"
    # 2 users × 3 bursts = 6 real sessions, each of 3 events
    real = [t for t in got if not t[0].startswith("2024-03-03")]
    assert len(real) == 6
    assert all(t[3] == "3" for t in real)


def test_dedup_within_watermark_stream_equals_batch(spark, tmp_path):
    """Redelivered events (same event_id, inside the watermark horizon)
    must be suppressed by the bounded-state stream dedup, matching the
    batch dropDuplicates oracle row-for-row."""
    import pandas as pd

    from the_hive_spark.streaming.windows import dedup_within_watermark

    src = tmp_path / "dedup"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:00:00")
    first = [
        {
            "event_id": i,
            "ts": base + pd.Timedelta(minutes=i),
            "user_id": i % 2,
            "event_type": "view",
            "value": float(i),
        }
        for i in range(10)
    ]
    # redelivery: ids 3..6 again, slightly later but inside the horizon
    redelivered = [
        {**r, "ts": r["ts"] + pd.Timedelta(seconds=30)}
        for r in first
        if 3 <= r["event_id"] <= 6
    ]

    def _dump(frame: pd.DataFrame, name: str) -> None:
        frame = frame.astype({"ts": "datetime64[us]"})
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        frame.to_parquet(src / name)

    _dump(pd.DataFrame(first), "a.parquet")
    _dump(pd.DataFrame(redelivered), "b.parquet")

    batch_df = spark.read.parquet(str(src))
    stream_df = spark.readStream.schema(batch_df.schema).parquet(str(src))

    q = (
        dedup_within_watermark(stream_df, watermark="1 hour")
        .select("event_id")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    want = sorted(
        r.event_id
        for r in dedup_within_watermark(batch_df).select("event_id").collect()
    )
    assert got == want == list(range(10))


def test_stream_stream_left_outer_equals_batch(spark, tmp_path):
    """Batch/stream parity for the LEFT OUTER interval join
    (unconverted causes): unmatched rows may only be emitted after the
    watermark proves no future match can arrive, and once it has, the
    stream must agree exactly with the batch anti-join."""
    import pandas as pd

    from the_hive_spark.streaming.windows import unconverted_causes

    src = tmp_path / "unconv"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = []
    for i in range(60):
        rows.append({
            "ts": base + pd.Timedelta(minutes=11 * i),
            "user_id": i % 4,
            "event_type": "click",
            "event_id": 1000 + i,
        })
    for j in range(12):
        rows.append({
            "ts": base + pd.Timedelta(minutes=50 * j + 5),
            "user_id": j % 4,
            "event_type": "purchase",
            "event_id": 2000 + j,
        })

    def _dump(frame: pd.DataFrame, name: str) -> None:
        frame = frame.astype({"ts": "datetime64[us]"})
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        frame.to_parquet(src / name)

    _dump(pd.DataFrame(rows), "a.parquet")
    # Sentinels must advance BOTH sides' watermarks: the event_type
    # filters push below the watermark operators, so a row of a third
    # type advances neither (global watermark = min of the two stalls
    # at the last real purchase). A same-instant click+purchase pair
    # converts against itself, leaving the unmatched set unpolluted on
    # both the stream and the batch oracle.
    _dump(
        pd.DataFrame(
            [
                {
                    "ts": base + pd.Timedelta(days=3),
                    "user_id": 0,
                    "event_type": "click",
                    "event_id": 9998,
                },
                {
                    "ts": base + pd.Timedelta(days=3),
                    "user_id": 0,
                    "event_type": "purchase",
                    "event_id": 9999,
                },
            ]
        ),
        "z.parquet",
    )

    batch_df = spark.read.parquet(str(src))
    # one file per micro-batch: outer-join null emission happens in the
    # batch AFTER the watermark advances past a row's match horizon, so
    # the sentinel file must land in its own batch (with everything in
    # one batch there is no later batch to flush the unmatched rows)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    # processingTime trigger, NOT availableNow: the final unmatched
    # rows flush in a no-data micro-batch after the watermark-advancing
    # batch, and availableNow terminates before running it
    q = (
        unconverted_causes(stream_df, within="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("unconv_rows")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time as _time

    deadline = _time.time() + 90
    last, stable = -1, 0
    while _time.time() < deadline and stable < 4:
        n = spark.sql("SELECT COUNT(*) c FROM unconv_rows").collect()[0]["c"]
        stable = stable + 1 if n == last and n > 0 else 0
        last = n
        _time.sleep(1)
    q.stop()
    got = {
        tuple(str(v) for v in r)
        for r in spark.sql("SELECT * FROM unconv_rows").collect()
    }
    want = {
        tuple(str(v) for v in r)
        for r in unconverted_causes(
            batch_df, within="30 minutes", watermark="10 minutes"
        ).collect()
    }
    assert want, "batch oracle produced no unmatched causes — fixture broken"
    assert got == want, (
        f"stream≠batch: extra={got - want} missing={want - got}"
    )


def test_rate_limiter_token_bucket(spark, tmp_path):
    """Token-bucket admissions over a file-source stream match a
    pure-Python simulation of the same bucket (event-time refill,
    burst cap, per-key isolation, deterministic replay)."""
    import pandas as pd

    from the_hive_spark.streaming.ratelimit import (
        DEFAULT_BURST,
        DEFAULT_RATE_PER_SEC,
        rate_limited,
    )

    src = tmp_path / "rl"
    src.mkdir()
    # user 1: a burst of 5 at t=0 (3 admitted), then spaced refills;
    # user 2: slow steady traffic, all admitted
    rows = []
    eid = 0
    for off_us in (0, 1000, 2000, 3000, 4000,      # burst
                   2_000_000, 2_500_000, 5_000_000):
        rows.append({"user_id": 1, "event_id": eid, "ts_us": off_us}); eid += 1
    for off_us in (0, 3_000_000, 6_000_000):
        rows.append({"user_id": 2, "event_id": eid, "ts_us": off_us}); eid += 1
    pd.DataFrame(rows).astype("int64").to_parquet(src / "a.parquet")

    batch = spark.read.parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    q = (
        rate_limited(stream)
        .writeStream.format("memory")
        .queryName("rl_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["allowed"], r["tokens_after_milli"])
        for r in spark.sql("SELECT * FROM rl_sink").collect()
    }

    # pure-python reference
    def simulate(events):
        out = {}
        tokens, last = DEFAULT_BURST * 1000, None
        for eid_, ts in sorted(events, key=lambda t: (t[1], t[0])):
            if last is not None and ts > last:
                tokens = min(
                    DEFAULT_BURST * 1000,
                    tokens + int((ts - last) * DEFAULT_RATE_PER_SEC // 1000),
                )
            last = ts if last is None else max(last, ts)
            allowed = 1 if tokens >= 1000 else 0
            if allowed:
                tokens -= 1000
            out[eid_] = (allowed, tokens)
        return out

    want = {}
    for uid in (1, 2):
        want.update(
            simulate([(r["event_id"], r["ts_us"]) for r in rows
                      if r["user_id"] == uid])
        )
    assert got == want
    # the burst admits exactly DEFAULT_BURST of the first five
    first_five = [got[i][0] for i in range(5)]
    assert sum(first_five) == DEFAULT_BURST


def test_rate_limiter_pacing_parity_across_expiry(spark, tmp_path):
    """Admissions are identical whether the input arrives as ONE
    micro-batch (state never expires) or one-file-per-trigger (the
    idle key's bucket expires mid-run and is recreated) — the
    event-time-timeout guarantee. User 1 bursts, idles past the 60 s
    expiry floor while user 2's steady traffic advances the watermark
    (expiring user 1's state in the paced run only), then returns;
    both runs must match the pure-python bucket simulation."""
    import pandas as pd

    from the_hive_spark.streaming.ratelimit import (
        DEFAULT_BURST,
        DEFAULT_RATE_PER_SEC,
        rate_limited,
    )

    sec = 1_000_000  # µs
    files = [
        # f1: user 1's burst of 4 (3 admitted) + user 2 baseline
        [(1, 0, 0), (1, 1, 100_000), (1, 2, 200_000), (1, 3, 300_000),
         (2, 100, 0)],
        # f2-f4: user 2 alone advances the watermark past user 1's
        # timeout (0.3 s + 60 s floor); user 1 expires in the paced run
        [(2, 101, 60 * sec)],
        [(2, 102, 120 * sec), (2, 103, 180 * sec)],
        [(2, 104, 240 * sec)],
        # f5: user 1 returns after 300 s idle — fresh bucket (paced)
        # vs refilled-to-full bucket (single batch): same 3 admissions
        [(1, 4, 300 * sec), (1, 5, int(300.1 * sec)),
         (1, 6, int(300.2 * sec)), (1, 7, int(300.3 * sec)),
         (2, 105, 300 * sec)],
    ]

    def run(paced: bool, tag: str):
        src = tmp_path / f"rlp_{tag}"
        src.mkdir()
        for i, rows in enumerate(files):
            pd.DataFrame(
                [{"user_id": u, "event_id": e, "ts_us": t}
                 for u, e, t in rows]
            ).astype("int64").to_parquet(src / f"f{i}.parquet")
        reader = spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        )
        if paced:
            reader = reader.option("maxFilesPerTrigger", 1)
        q = (
            # explicit 0s tolerance: the point of this test is that the
            # idle key's state EXPIRES mid-run in the paced leg, which
            # needs the watermark to actually advance past the timeout
            rate_limited(reader.parquet(str(src)), late_tolerance="0 seconds")
            .writeStream.format("memory")
            .queryName(f"rlp_{tag}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            r["event_id"]: (r["allowed"], r["tokens_after_milli"])
            for r in spark.sql(f"SELECT * FROM rlp_{tag}").collect()
        }

    paced = run(True, "paced")
    single = run(False, "single")

    def simulate(events):
        out = {}
        tokens, last = DEFAULT_BURST * 1000, None
        for eid, ts in sorted(events, key=lambda t: (t[1], t[0])):
            if last is not None and ts > last:
                tokens = min(
                    DEFAULT_BURST * 1000,
                    tokens + int((ts - last) * DEFAULT_RATE_PER_SEC // 1000),
                )
            last = ts if last is None else max(last, ts)
            allowed = 1 if tokens >= 1000 else 0
            if allowed:
                tokens -= 1000
            out[eid] = (allowed, tokens)
        return out

    want = {}
    flat = [r for rows in files for r in rows]
    for uid in (1, 2):
        want.update(simulate([(e, t) for u, e, t in flat if u == uid]))
    assert paced == want, f"paced run diverged: {paced} != {want}"
    assert single == want, f"single-batch run diverged: {single} != {want}"
    # the scenario actually crossed the boundary: user 1 idled longer
    # than the expiry floor
    idle_s = (300 * sec - 300_000) / sec
    assert idle_s > max(60, DEFAULT_BURST / DEFAULT_RATE_PER_SEC)


def test_rate_limiter_tws_parity(spark, tmp_path):
    """The Spark 4 transformWithState harness admits bit-identically
    to applyInPandasWithState on the expiry-crossing scenario above —
    same pure-python bucket simulation, both pacings. The paced leg
    exercises the explicit-timer plumbing TWS adds (register on first
    sight, delete+re-register on re-arm, stale-timer ignore in the
    expiry callback): user 1's bucket expires mid-run and is
    recreated, which must not change a single admission."""
    import pandas as pd

    from tests.conftest import TWS_AVAILABLE

    if not TWS_AVAILABLE:
        pytest.skip("no protobuf runtime for transformWithState")

    from the_hive_spark.streaming.ratelimit import (
        DEFAULT_BURST,
        DEFAULT_RATE_PER_SEC,
        rate_limited_tws,
    )

    sec = 1_000_000  # µs
    files = [
        [(1, 0, 0), (1, 1, 100_000), (1, 2, 200_000), (1, 3, 300_000),
         (2, 100, 0)],
        [(2, 101, 60 * sec)],
        [(2, 102, 120 * sec), (2, 103, 180 * sec)],
        [(2, 104, 240 * sec)],
        [(1, 4, 300 * sec), (1, 5, int(300.1 * sec)),
         (1, 6, int(300.2 * sec)), (1, 7, int(300.3 * sec)),
         (2, 105, 300 * sec)],
    ]

    # transformWithState requires the RocksDB state store; the conf is
    # read at query START from the session, so set/restore around the
    # runs (other tests' already-running queries are unaffected)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        def run(paced: bool, tag: str):
            src = tmp_path / f"tws_{tag}"
            src.mkdir()
            for i, rows in enumerate(files):
                pd.DataFrame(
                    [{"user_id": u, "event_id": e, "ts_us": t}
                     for u, e, t in rows]
                ).astype("int64").to_parquet(src / f"f{i}.parquet")
            reader = spark.readStream.schema(
                spark.read.parquet(str(src)).schema
            )
            if paced:
                reader = reader.option("maxFilesPerTrigger", 1)
            q = (
                rate_limited_tws(
                    reader.parquet(str(src)), late_tolerance="0 seconds"
                )
                .writeStream.format("memory")
                .queryName(f"tws_{tag}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return {
                r["event_id"]: (r["allowed"], r["tokens_after_milli"])
                for r in spark.sql(f"SELECT * FROM tws_{tag}").collect()
            }

        paced = run(True, "paced")
        single = run(False, "single")
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)

    def simulate(events):
        out = {}
        tokens, last = DEFAULT_BURST * 1000, None
        for eid, ts in sorted(events, key=lambda t: (t[1], t[0])):
            if last is not None and ts > last:
                tokens = min(
                    DEFAULT_BURST * 1000,
                    tokens + int((ts - last) * DEFAULT_RATE_PER_SEC // 1000),
                )
            last = ts if last is None else max(last, ts)
            allowed = 1 if tokens >= 1000 else 0
            if allowed:
                tokens -= 1000
            out[eid] = (allowed, tokens)
        return out

    want = {}
    flat = [r for rows in files for r in rows]
    for uid in (1, 2):
        want.update(simulate([(e, t) for u, e, t in flat if u == uid]))
    assert paced == want, f"TWS paced diverged: {paced} != {want}"
    assert single == want, f"TWS single diverged: {single} != {want}"


def test_streaming_sources_no_driver_side_batch_work():
    """Round-4 verdict scale wart: nothing under streaming/ may do
    per-batch driver-side work — no ``.collect()`` of row sets and no
    unpartitioned ``Window.orderBy`` (a single-partition stage). The
    availableNow backlog-replay path makes ONE batch the entire
    backlog, so these patterns are O(backlog) on the driver."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "the_hive_spark" / "streaming"
    for src in sorted(pkg.glob("*.py")):
        text = src.read_text()
        # strip comments so docstring mentions don't trip the net
        code = "\n".join(
            line.split("#")[0] for line in text.splitlines()
        )
        assert ".collect()" not in code, f"{src.name} collects a row set"
        assert not re.search(r"Window\s*\.\s*orderBy", code), (
            f"{src.name} uses an unpartitioned window"
        )


def test_analyze_batch_backlog_scale(spark, tmp_path):
    """analyze_batch on a backlog-sized batch (every doc in one batch,
    the availableNow replay shape): event ids must be dense and
    correctly based without any driver-side id list, and rule matches
    must be restricted to the batch via semi-join."""
    from the_hive_spark.streaming.pipeline import analyze_batch

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.add_rule(1, "Does this document contain confidential pricing?")
    n = 300
    docs = [
        (
            f"doc{i:04d}",
            "has CONFIDENTIAL pricing" if i % 7 == 0 else "harmless text",
            "",
            {},
        )
        for i in range(n)
    ]
    eng.ingest_batch(
        spark.createDataFrame(
            docs,
            "path string, content string, organization_id string, "
            "metadata map<string,string>",
        )
    )
    base = eng._next_id("events")
    completed = spark.createDataFrame(
        [(p, 1, c, "count") for (p, c, _o, _m) in docs],
        "document_id string, n_chunks long, full_text string, "
        "completion_reason string",
    ).repartition(8)
    analyze_batch(eng, completed)

    ev = (
        eng.read_table("events")
        .filter(F.col("details").contains("Document complete"))
        .select("id", "document_name")
        .collect()
    )
    assert len(ev) == n
    ids = sorted(r["id"] for r in ev)
    assert ids == list(range(base, base + n))  # dense, correctly based
    # ids assigned in document_id order (parity with the old
    # single-partition row_number form)
    by_doc = {r["document_name"]: r["id"] for r in ev}
    ordered = sorted(by_doc)
    assert [by_doc[d] for d in ordered] == ids
    # rule matches: exactly the keyword docs in the batch
    matched = {
        r["uploaded_doc"]
        for r in eng.read_table("rule_matches").collect()
    }
    assert matched == {f"doc{i:04d}" for i in range(0, n, 7)}
    # alerts fired for keyword docs (batch leg already fired its own;
    # the analyze_batch leg adds the same set again)
    alert_docs = {
        r["document_id"] for r in eng.read_table("alerts").collect()
    }
    assert {f"doc{i:04d}" for i in range(0, n, 7)} <= alert_docs


def test_corpus_band_density_and_setup_guard(spark):
    """Density math is exact on a hand corpus: K identical docs give
    identical signatures — every band bucket holds K rows, so
    sum_c2 = N_BANDS·K², expected hits/doc = N_BANDS·K — and the
    setup guard refuses a stream against such an index while a sane
    cap admits a diverse one."""
    import pandas as pd
    import pytest

    from the_hive_spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
        band_signatures,
        corpus_band_density,
        incremental_near_dup_candidates,
        with_minhash_cols,
    )

    k = 12
    rows = [
        {"doc_id": i, "text": "same exact content for every document here"}
        for i in range(k)
    ]
    dense = band_signatures(
        with_minhash_cols(spark.createDataFrame(pd.DataFrame(rows))).select(
            "doc_id", *[f"mh{s}" for s in range(N_MINHASH)]
        )
    ).cache()
    d = corpus_band_density(dense)
    assert d["n_docs"] == k
    assert d["max_bucket"] == k
    assert d["sum_c2"] == N_BANDS * k * k
    assert d["expected_hits_per_doc"] == N_BANDS * k

    new = spark.createDataFrame(
        pd.DataFrame([{"doc_id": 99,
                       "text": "same exact content for every document here"}])
    )
    with pytest.raises(ValueError, match="candidate-dense"):
        incremental_near_dup_candidates(
            new, dense, max_expected_hits_per_doc=N_BANDS * k - 1
        )
    # a cap above the measured density admits the stream
    ok = incremental_near_dup_candidates(
        new, dense, max_expected_hits_per_doc=N_BANDS * k + 1
    )
    assert ok.count() == N_BANDS * k  # collides with all k on all bands


def test_incdedup_meter_observes_batch_volume(spark, tmp_path):
    """meter=True attaches an ``observe`` whose per-batch metrics the
    streaming progress carries — the per-batch candidate-volume meter
    stream_scale records and alerts on."""
    import json as _json

    import pandas as pd

    from the_hive_spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
        band_signatures,
        incremental_near_dup_candidates,
        with_minhash_cols,
    )

    base = "the quick brown fox jumps over the lazy dog while counting "
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": i, "text": base + f"sheep number {i}"} for i in range(6)]
        )
    )
    bands = band_signatures(
        with_minhash_cols(corpus).select(
            "doc_id", *[f"mh{s}" for s in range(N_MINHASH)]
        )
    ).cache()
    src = tmp_path / "meter_src"
    src.mkdir()
    pd.DataFrame(
        [{"doc_id": 100, "text": base + "sheep number 2"}]
    ).to_parquet(src / "b0.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    hits = incremental_near_dup_candidates(stream, bands, meter=True)
    q = (
        hits.writeStream.format("memory")
        .queryName("meter_hits")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metered = [
        _json.loads(p.json).get("observedMetrics", {}).get("incdedup_meter")
        for p in q.recentProgress
    ]
    metered = [m for m in metered if m]
    assert metered, "progress must carry the incdedup_meter metrics"
    total = sum(m["candidate_hits"] for m in metered)
    # doc 100 is a near-dup of corpus doc 2: all bands collide there,
    # and the observed total must equal the delivered hit count
    assert total == spark.sql("SELECT COUNT(*) n FROM meter_hits").collect()[0]["n"]
    assert total >= N_BANDS


def _snap_run(spark, tmp_path, files, tag, paced, late_tolerance="0 seconds"):
    """Run the snapshot-state harness over a file backlog and return
    {event_id: (allowed, tokens_after_milli)}."""
    import threading

    import pandas as pd

    from the_hive_spark.streaming.ratelimit import SnapshotRateLimiter

    src = tmp_path / f"snap_src_{tag}"
    src.mkdir()
    for i, rows in enumerate(files):
        pd.DataFrame(
            [{"user_id": u, "event_id": e, "ts_us": t} for u, e, t in rows]
        ).astype("int64").to_parquet(src / f"f{i}.parquet")
    reader = spark.readStream.schema("user_id long, event_id long, ts_us long")
    if paced:
        reader = reader.option("maxFilesPerTrigger", 1)
    got: dict = {}
    lock = threading.Lock()

    def sink(df, batch_id):
        rows = df.collect()
        with lock:
            for r in rows:
                got[r["event_id"]] = (r["allowed"], r["tokens_after_milli"])

    limiter = SnapshotRateLimiter(
        state_root=str(tmp_path / f"snap_state_{tag}"),
        late_tolerance=late_tolerance,
    )
    q = limiter.start_query(
        reader.parquet(str(src)), sink,
        str(tmp_path / f"snap_ckpt_{tag}"),
        available_now=True,
    )
    q.awaitTermination(180)
    return got


def test_rate_limiter_snapshot_parity_across_expiry(spark, tmp_path):
    """The snapshot-state harness (versioned parquet state + one
    segmented mapInPandas pass per partition — no state store) admits
    bit-identically to the stateful-operator harnesses on the
    expiry-crossing scenario, both pacings. User 3 exercises the
    untouched-key passthrough: present in f1, absent while the
    watermark advances (its snapshot row must ride along unchanged,
    keeping its ORIGINAL expiry so it can still drop), back in f3."""
    from the_hive_spark.streaming.ratelimit import (
        DEFAULT_BURST,
        DEFAULT_RATE_PER_SEC,
    )

    sec = 1_000_000  # µs
    files = [
        [(1, 0, 0), (1, 1, 100_000), (1, 2, 200_000), (1, 3, 300_000),
         (2, 100, 0), (3, 200, 30 * sec)],
        [(2, 101, 60 * sec)],
        [(2, 102, 120 * sec), (2, 103, 180 * sec),
         (3, 201, int(120.5 * sec))],
        [(2, 104, 240 * sec)],
        [(1, 4, 300 * sec), (1, 5, int(300.1 * sec)),
         (1, 6, int(300.2 * sec)), (1, 7, int(300.3 * sec)),
         (2, 105, 300 * sec)],
    ]

    paced = _snap_run(spark, tmp_path, files, "paced", True)
    single = _snap_run(spark, tmp_path, files, "single", False)

    def simulate(events):
        out = {}
        tokens, last = DEFAULT_BURST * 1000, None
        for eid, ts in sorted(events, key=lambda t: (t[1], t[0])):
            if last is not None and ts > last:
                tokens = min(
                    DEFAULT_BURST * 1000,
                    tokens + int((ts - last) * DEFAULT_RATE_PER_SEC // 1000),
                )
            last = ts if last is None else max(last, ts)
            allowed = 1 if tokens >= 1000 else 0
            if allowed:
                tokens -= 1000
            out[eid] = (allowed, tokens)
        return out

    want = {}
    flat = [r for rows in files for r in rows]
    for uid in (1, 2, 3):
        want.update(simulate([(e, t) for u, e, t in flat if u == uid]))
    assert paced == want, f"snapshot paced diverged: {paced} != {want}"
    assert single == want, f"snapshot single diverged: {single} != {want}"


def test_rate_limiter_snapshot_late_row_parity(spark, tmp_path):
    """Late-row semantics pinned to what Spark ACTUALLY does for this
    operator family: map/flatMapGroupsWithState-style operators pass
    rows behind the watermark through to the function (the watermark
    drives only state timeouts) — nothing is dropped, even at a
    0-second tolerance with a row 50 s late. The snapshot harness
    must reproduce that: identical verdict sets, including the late
    row (which contends without refilling) and the at-watermark row.
    An earlier docstring claimed the window-aggregation drop contract
    for rate_limited; this test is what falsified it."""
    import pandas as pd

    from the_hive_spark.streaming.ratelimit import rate_limited

    sec = 1_000_000
    files = [
        [(2, 100, 100 * sec)],
        # e0: 50 s behind the watermark (late), e1: exactly AT the
        # watermark, e2: 1 ms above it, e3: well ahead
        [(1, 0, 50 * sec), (1, 1, 100 * sec),
         (1, 2, 100 * sec + 1000), (1, 3, 200 * sec)],
    ]

    src = tmp_path / "late_ref"
    src.mkdir()
    for i, rows in enumerate(files):
        pd.DataFrame(
            [{"user_id": u, "event_id": e, "ts_us": t} for u, e, t in rows]
        ).astype("int64").to_parquet(src / f"f{i}.parquet")
    q = (
        rate_limited(
            spark.readStream.schema(
                "user_id long, event_id long, ts_us long"
            ).option("maxFilesPerTrigger", 1).parquet(str(src)),
            late_tolerance="0 seconds",
        )
        .writeStream.format("memory")
        .queryName("late_ref")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    ref = {
        r["event_id"]: (r["allowed"], r["tokens_after_milli"])
        for r in spark.sql("SELECT * FROM late_ref").collect()
    }

    snap = _snap_run(spark, tmp_path, files, "late", True)
    assert snap == ref, f"late-row verdicts diverged: {snap} != {ref}"
    # every row — including the 50s-late one — was processed by both
    assert set(ref) == {0, 1, 2, 3, 100}
    # the late row found a fresh bucket (user 1 unseen before batch 1,
    # within-batch event-time order puts it first): admitted at 2000
    assert ref[0] == (1, 2000)


def test_rate_limiter_snapshot_replay_idempotent(spark, tmp_path):
    """Crash-replay contract: re-processing a batch_id after its
    snapshot version was already written must (a) read the newest
    version OLDER than the replayed id — not its own stale output —
    and (b) reproduce the identical verdicts and snapshot. Drives
    _process_batch directly with static frames, the same entry the
    foreachBatch body uses."""
    import pandas as pd

    from the_hive_spark.streaming.ratelimit import SnapshotRateLimiter

    sec = 1_000_000
    b0 = [(1, 0, 0), (1, 1, 100_000), (2, 10, 0)]
    b1 = [(1, 2, 5 * sec), (2, 11, 6 * sec)]

    def df(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                [{"user_id": u, "event_id": e, "ts_us": t}
                 for u, e, t in rows]
            ).astype("int64")
        )

    lim = SnapshotRateLimiter(state_root=str(tmp_path / "snap"))
    got: list = []

    def sink(vdf, bid):
        got.append(
            sorted(
                (r["event_id"], r["allowed"], r["tokens_after_milli"])
                for r in vdf.collect()
            )
        )

    lim._process_batch(df(b0), 0, sink)
    lim._process_batch(df(b1), 1, sink)
    state_after = sorted(
        tuple(r) for r in spark.read.parquet(lim._vdir(1)).collect()
    )
    first = list(got)

    # replay batch 1 (checkpoint recovery re-runs the last batch)
    lim._process_batch(df(b1), 1, sink)
    assert got[-1] == first[1], "replayed batch diverged from original"
    replay_state = sorted(
        tuple(r) for r in spark.read.parquet(lim._vdir(1)).collect()
    )
    assert replay_state == state_after, "replayed snapshot diverged"


def test_analyze_batch_leaves_no_persisted_rdd(spark, tmp_path):
    """analyze_batch leaves the session's persisted RDDs as it found
    them: its cache is released and numbering the completion events
    pins no checkpointed RDD. The events are still numbered densely in
    document order."""
    from the_hive_spark.streaming.pipeline import analyze_batch

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    completed = spark.createDataFrame(
        [(f"doc{i}", 1, "harmless text", "count") for i in (2, 0, 1)],
        "document_id string, n_chunks long, full_text string, "
        "completion_reason string",
    )

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    analyze_batch(eng, completed)
    assert persisted() == before
    ev = eng.read_table("events").orderBy("id").collect()
    assert [(r["id"], r["document_name"]) for r in ev] == [
        (1, "doc0"), (2, "doc1"), (3, "doc2")
    ]
