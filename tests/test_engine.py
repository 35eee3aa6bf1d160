"""End-to-end HiveEngine tests: seed → ingest → search/rules/graph —
the SURVEY.md §5 strategy (golden top-1 queries over seeder fixtures
with the deterministic mock embedder)."""

from __future__ import annotations

import pyarrow.compute as pc
import pyspark.sql.functions as F
import pytest

from the_hive_spark.engine import HiveEngine
from the_hive_spark.schemas import INGEST_FILES
from tests.fixtures import (
    ALERT_RULE,
    CONFIDENTIAL_DOC,
    GOLDEN_QUERIES,
    jobs_in,
    seed_files,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("warehouse")), embedding_dim=64)
    stats = eng.ingest_batch(seed_files(spark))
    assert stats["files"] == 5
    return eng


def test_golden_search_top1(engine):
    """Seeded doc is the top hit for its unique phrase (seeder parity)."""
    for phrase, expected_doc in GOLDEN_QUERIES.items():
        top = engine.search(phrase, top_k=3).collect()
        assert len(top) > 0, phrase
        assert top[0]["document_id"] == f"/watch/{expected_doc}", (
            f"{phrase!r} → {top[0]['document_id']}"
        )


def test_reingest_idempotent(engine, spark):
    """ST4: re-ingesting identical files is a no-op (change detection),
    and chunk ids are deterministic."""
    before = engine.read_table("chunks").count()
    stats = engine.ingest_batch(seed_files(spark))
    assert stats == {"files": 0, "chunks": 0, "alerts": 0}
    assert engine.read_table("chunks").count() == before


def test_confidential_alert_fires(engine, spark):
    """P7/ST5: CONFIDENTIAL content on chunk 0 ⇒ ALERT row (the
    integration-test contract, cmd/integration-test/main.go:136-153)."""
    path, text = CONFIDENTIAL_DOC
    files = spark.createDataFrame(
        [(f"/watch/{path}", text, "org1", None)], INGEST_FILES
    )
    stats = engine.ingest_batch(files)
    assert stats["alerts"] == 1
    alerts = engine.read_table("alerts").collect()
    assert any(a["document_id"] == f"/watch/{path}" for a in alerts)


def test_rule_evaluation_matches_confidential(engine):
    """J3+U5: keyword fallback rule matches the confidential doc."""
    engine.add_rule(1, ALERT_RULE, organization_id="org1")
    matches = engine.evaluate_rules().collect()
    docs = {m["uploaded_doc"] for m in matches}
    assert "/watch/test_confidential.txt" in docs
    m = next(m for m in matches if m["uploaded_doc"] == "/watch/test_confidential.txt")
    assert m["match_type"] == "single_doc"
    assert "confidential" in m["ai_explanation"]


def test_timeline_and_audit(engine):
    ev = engine.timeline(limit=100).collect()
    assert len(ev) >= 6  # 5 seeds + confidential
    assert all(e["event_type"] == "ingest" for e in ev)
    logs = engine.audit(action="SEARCH").collect()
    assert len(logs) > 0
    assert all("searched for" in log["details"] for log in logs)


def test_stats_counts(engine):
    s = engine.stats()
    assert s["total_documents"] == 6
    assert s["total_chunks"] >= 6
    assert s["total_vectors"] == s["total_chunks"]


def test_graph_edges_and_neighborhood(engine):
    engine.add_edge("/watch/project_alpha.md", "/watch/beta_analysis.md", "contradicts")
    engine.add_edge("/watch/project_alpha.md", "/watch/gamma_protocol.md", "references")
    nodes = {r["node_id"] for r in engine.graph_nodes().collect()}
    assert nodes == {
        "/watch/project_alpha.md",
        "/watch/beta_analysis.md",
        "/watch/gamma_protocol.md",
    }
    nb = engine.graph_neighborhood("/watch/beta_analysis.md").collect()
    assert len(nb) == 1
    assert nb[0]["relationship_type"] == "contradicts"


def test_contradiction_candidates_no_cartesian(engine):
    """J2 (analyst.go:295-377): the corpus-wide sweep must run on LSH
    band candidates, never an all-pairs BroadcastNestedLoopJoin — the
    round-2 verdict's scale-killer finding."""
    from the_hive_spark.plans.inspect import plan_summary

    df = engine.contradiction_candidates(top_k=3)
    summary = plan_summary(df)
    assert summary["cartesian_products"] == 0, summary
    assert summary["broadcast_nested_loop_joins"] == 0, summary

    rows = df.collect()
    # Per-source top-k bound holds and scores are valid cosines.
    by_src: dict[str, int] = {}
    for r in rows:
        by_src[r["source_doc_id"]] = by_src.get(r["source_doc_id"], 0) + 1
        assert -1.0001 <= r["score"] <= 1.0001
        assert r["source_doc_id"] != r["target_doc_id"]
    assert all(c <= 3 for c in by_src.values())
    # The seeded corpus is tiny and mutually similar enough that the
    # band join must surface at least some candidate pairs.
    assert len(rows) > 0


def test_contradiction_candidates_new_doc_batch(engine):
    """The per-ingest-batch path: exact top-k for the new docs, ranked
    on the driver over the chunk index (the shape the reference runs)."""
    new = ["/watch/project_alpha.md"]
    rows = engine.contradiction_candidates(top_k=3, new_doc_ids=new).collect()
    assert {r["source_doc_id"] for r in rows} == set(new)
    assert len(rows) == 3  # corpus has 6 docs, so full k is reachable
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_chat_rag_citations(engine):
    row = engine.chat("Project Alpha confidential report", top_k=3).collect()[0]
    assert "Project Alpha" in row["answer"]
    assert len(row["citations"]) == 3
    assert row["citations"][0]["document_id"] == "/watch/project_alpha.md"


def test_tenant_purge(spark, tmp_path_factory):
    """S16: purge by org removes exactly that tenant's partitions."""
    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("wh2")), embedding_dim=32)
    eng.ingest_batch(seed_files(spark, org="orgA"))
    files_b = spark.createDataFrame(
        [("/watch/b_doc.txt", "tenant b content here", "orgB", None)], INGEST_FILES
    )
    eng.ingest_batch(files_b)
    assert eng.read_table("chunks").filter(F.col("organization_id") == "orgA").count() > 0
    eng.purge("orgA")
    assert eng.read_table("chunks").filter(F.col("organization_id") == "orgA").count() == 0
    assert eng.read_table("chunks").filter(F.col("organization_id") == "orgB").count() > 0
    # org-scoped search only sees its tenant (P2 filter-then-rank)
    hits = eng.search("tenant b content", top_k=5, organization_id="orgB").collect()
    assert all(h["organization_id"] == "orgB" for h in hits)
    # the purge took orgA's documents, change-detection state included,
    # so the same files ingest again and are searchable again
    assert eng.ingest_batch(seed_files(spark, org="orgA"))["files"] > 0
    for phrase, expected_doc in GOLDEN_QUERIES.items():
        top = eng.search(phrase, top_k=1, organization_id="orgA").collect()
        assert [h["document_id"] for h in top] == [f"/watch/{expected_doc}"], phrase


def test_ingest_batch_releases_its_caches(spark, tmp_path):
    """A full batch and one that returns early (nothing new) both leave
    the session's persisted RDDs as they found them."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    assert eng.ingest_batch(seed_files(spark))["files"] == 5
    assert persisted() == before
    assert eng.ingest_batch(seed_files(spark))["files"] == 0
    assert persisted() == before


def test_failed_ingest_is_reingested_on_replay(spark, tmp_path, monkeypatch):
    """The document row, which carries the file's hash, commits after
    every artifact derived from the file. A batch that fails part-way
    (here: the chunks commit raises once) has recorded no hash, so a
    replay of the same input ingests the files and their chunks."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    upsert = eng._upsert
    failed = []

    def fail_chunks_once(name, new, key_cols):
        if name == "chunks" and not failed:
            failed.append(name)
            raise OSError("disk full")
        upsert(name, new, key_cols)

    monkeypatch.setattr(eng, "_upsert", fail_chunks_once)
    with pytest.raises(OSError):
        eng.ingest_batch(seed_files(spark))
    assert eng.read_table("documents").count() == 0

    stats = eng.ingest_batch(seed_files(spark))
    assert stats["files"] == 5
    chunks = eng.read_table("chunks")
    assert chunks.count() == stats["chunks"] > 0
    docs = {r["id"] for r in eng.read_table("documents").collect()}
    assert {r["document_id"] for r in chunks.collect()} == docs
    assert len(docs) == 5


def test_commit_with_no_rows_publishes_nothing(spark, tmp_path):
    """A commit whose add holds no rows and drops none leaves the table's
    manifest as it was: no version bump, no 0-row file."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(seed_files(spark))
    eng.add_rule(1, "flag confidential material")
    assert eng.evaluate_rules().count() > 0
    eng.generate_api_key("drone-1")
    before = {t: eng._manifest(t) for t in ("rule_matches", "api_keys")}
    assert before["rule_matches"]["version"] == 1
    assert before["api_keys"]["version"] == 1

    assert eng.evaluate_rules(["/watch/no-such-doc"]).count() == 0
    eng.touch_api_key("hive_no_such_key")
    for t, manifest in before.items():
        after = eng._manifest(t)
        assert (after["version"], after["files"]) == (
            manifest["version"], manifest["files"]
        ), t


def test_update_event_on_changed_file(spark, tmp_path):
    """ST2 decision parity: re-ingesting a changed file emits an
    'update' event; an unchanged file is skipped entirely. An update
    that shortens the document replaces ALL its chunks: none of the
    old version's extra chunks survive or come back from search."""
    from the_hive_spark.engine import HiveEngine

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    mk = lambda text: spark.createDataFrame(
        [("/w/a.md", text, "", {})],
        "path string, content string, organization_id string, "
        "metadata map<string,string>",
    )
    v1 = " ".join(
        f"Paragraph {i} of version one discusses the walrus ledger at"
        f" considerable length so that it fills a whole chunk." * 4
        for i in range(6)
    )
    n_v1 = eng.ingest_batch(mk(v1))["chunks"]
    assert n_v1 > 1
    assert eng.ingest_batch(mk(v1))["files"] == 0  # unchanged
    v2 = eng.ingest_batch(mk("Version two is a single short sentence."))
    assert v2["files"] == 1  # changed
    types = [
        r["event_type"]
        for r in eng.read_table("events").orderBy("id").collect()
    ]
    assert types == ["ingest", "update"]
    doc = eng.read_table("chunks").filter(F.col("document_id") == "/w/a.md")
    assert doc.count() == v2["chunks"] == 1
    hits = eng.search("walrus ledger", top_k=n_v1, audit=False).collect()
    assert all("walrus" not in h["content"] for h in hits), hits


def test_read_during_publish_sees_complete_old_version(
    spark, tmp_path, monkeypatch
):
    """A reader that runs at the instant a commit publishes (here: the
    replace of the chunks table's state, caught by wrapping os.replace)
    sees the whole previous version, never an empty or partial table."""
    import os

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(seed_files(spark))
    before = eng.read_table("chunks").count()
    chunks_dir = os.path.join(str(tmp_path / "wh"), "chunks")
    seen = []
    real_replace = os.replace

    def read_then_replace(src, dst):
        if str(dst).startswith(chunks_dir):
            seen.append(eng.read_table("chunks").count())
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", read_then_replace)
    changed = spark.createDataFrame(
        [("/watch/project_alpha.md", "Project Alpha, rewritten.", "", None)],
        INGEST_FILES,
    )
    assert eng.ingest_batch(changed)["files"] == 1
    assert seen == [before]


def test_concurrent_reads_see_only_published_versions(spark, tmp_path):
    """A reader looping on count() while ingest, update, forget_document
    and purge commit to chunks sees only whole published versions: no
    empty table, no partial batch, no exception."""
    import threading

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(spark.createDataFrame(
        [("/watch/b_doc.txt", "tenant b content here", "orgB", None)],
        INGEST_FILES,
    ))
    valid = {eng.read_table("chunks").count()}
    seen: list[int] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(eng.read_table("chunks").count())
            except Exception as e:  # noqa: BLE001 - the test's subject
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        steps = [
            lambda: eng.ingest_batch(seed_files(spark, org="orgA")),
            lambda: eng.ingest_batch(spark.createDataFrame(
                [("/watch/project_alpha.md", "Alpha, short.", "orgA", None)],
                INGEST_FILES,
            )),
            lambda: eng.forget_document("/watch/beta_analysis.md"),
            lambda: eng.purge("orgA"),
        ]
        for step in steps:
            step()
            valid.add(eng.read_table("chunks").count())
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert seen and set(seen) <= valid, (sorted(set(seen)), sorted(valid))
    assert 0 not in valid


def test_ship_corpus_layout_and_roundtrip(spark, tmp_path):
    """The corpus sink writes lang-partitioned, doc_id-sorted parquet
    that round-trips exactly: same rows as the doc_corpus_filtered
    query joined back to text, directories Hive-partitioned by lang,
    and doc_id non-decreasing within every file (row-group pruning
    depends on it)."""
    import os

    from the_hive_spark.operators.dedup import doc_corpus_filtered
    from the_hive_spark.sources.sinks import ship_corpus
    from the_hive_spark.tables import table

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "corpus")
    n = ship_corpus(spark, sf, out)

    expected = doc_corpus_filtered(spark, sf).count()
    assert n == expected and n > 0

    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert langs, "expected Hive-style lang= partition directories"

    back = spark.read.parquet(out)
    got = {r.doc_id for r in back.select("doc_id").collect()}
    want = {r.doc_id for r in doc_corpus_filtered(spark, sf).collect()}
    assert got == want

    # per-file sortedness: every parquet part must be doc_id-sorted
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(out):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            ids = pq.read_table(os.path.join(root, f), columns=["doc_id"])
            col = ids.column("doc_id").to_pylist()
            assert col == sorted(col), f"unsorted file {f}"


def test_write_dataset_salted_file_spread(spark, tmp_path):
    """target_files_per_partition > 1 must spread one partition value
    over several files (the skewed-tenant layout fix) without changing
    the row set."""
    import os

    from the_hive_spark.sources.sinks import write_dataset

    df = spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS tenant", "id * 2 AS payload"
    )
    out = str(tmp_path / "salted")
    write_dataset(
        df, out, partition_by=["tenant"], sort_within=["id"],
        target_files_per_partition=4,
    )
    back = spark.read.parquet(out)
    assert back.count() == 2000
    # partition-dir values are type-inferred on read; compare as strings
    assert {str(r.tenant) for r in back.select("tenant").distinct().collect()} == {"0", "1"}
    for d in os.listdir(out):
        if not d.startswith("tenant="):
            continue
        parts = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(parts) > 1, f"{d}: expected multiple files, got {parts}"


def test_compact_dataset_merges_small_files(spark, tmp_path):
    """Compaction rewrites a many-tiny-files dataset into the computed
    target file count with the row set byte-identical (sinks.py)."""
    import pyspark.sql.functions as F

    from the_hive_spark.sources.sinks import compact_dataset

    src = str(tmp_path / "tiny")
    dst = str(tmp_path / "compacted")
    # 64 writer tasks -> 64 tiny files, the streaming-sink failure mode
    spark.range(0, 10_000).select(
        "id", (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
    ).repartition(64).write.parquet(src)

    stats = compact_dataset(spark, src, dst, target_mb=256, sort_within=["id"])
    assert stats["files_before"] == 64
    assert stats["target_files"] == 1  # 10k rows ≪ 256 MB
    assert stats["files_after"] == 1

    before = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    after = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert before == after


def test_forget_document_erases_all_derived_rows(spark, tmp_path_factory):
    """Right-to-erasure: every artifact keyed to the document is gone,
    other documents are untouched, search can no longer retrieve it,
    and exactly one FORGET audit row remains."""
    from the_hive_spark.schemas import INGEST_FILES
    from tests.fixtures import seed_files

    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("wh_forget")),
                     embedding_dim=32)
    eng.ingest_batch(seed_files(spark))
    target = "/watch/project_alpha.md"
    eng.add_edge(target, "/watch/beta_analysis.md", "references")
    eng.add_rule(1, "flag confidential material")
    eng.evaluate_rules()

    before_docs = eng.read_table("documents").count()
    deleted = eng.forget_document(target)
    assert deleted["documents"] == 1
    assert deleted["chunks"] >= 1
    assert deleted["graph_edges"] == 1

    assert eng.read_table("documents").count() == before_docs - 1
    assert eng.read_table("chunks").filter(
        F.col("document_id") == target).count() == 0
    assert eng.read_table("rule_matches").filter(
        F.col("uploaded_doc") == target).count() == 0
    hits = eng.search("Project Alpha confidential", top_k=5,
                      audit=False).collect()
    assert all(h["document_id"] != target for h in hits)
    trail = eng.audit(action="FORGET").collect()
    assert len(trail) == 1 and target in trail[0]["details"]


def test_integrity_report_clean_then_detects_orphans(spark, tmp_path_factory):
    """Warehouse self-audit: a freshly ingested warehouse has zero
    orphans; erasing a document's parent row by hand surfaces its
    chunks as orphans."""
    from tests.fixtures import seed_files

    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("wh_integ")),
                     embedding_dim=16)
    eng.ingest_batch(seed_files(spark))
    report = {r["fk"]: r for r in eng.integrity_report().collect()}
    assert all(r["n_orphans"] == 0 for r in report.values()), report
    assert report["chunks.document_id -> documents"]["n_rows"] > 0

    # break a FK on purpose: drop one document row, keep its chunks
    target = "/watch/project_alpha.md"
    docs = eng.read_table("documents").filter(F.col("id") != target)
    eng._replace("documents", docs)
    report2 = {r["fk"]: r for r in eng.integrity_report().collect()}
    assert report2["chunks.document_id -> documents"]["n_orphans"] > 0


def test_concurrent_audit_ids_dense_and_unique(spark, tmp_path):
    """Audit ids come from the manifest's next_id under the table lock:
    4 threads x 10 appends, split over two engines on one warehouse,
    give exactly 40 new rows with ids range(base, base + 40)."""
    import sys
    import threading

    wh = str(tmp_path / "wh")
    engines = [HiveEngine(spark, wh, embedding_dim=16) for _ in range(2)]
    engines[0]._audit_row("t", "SEARCH", "seed row", "")
    base = engines[1]._next_id("audit_logs")
    errors: list[BaseException] = []

    def worker(k):
        try:
            for i in range(10):
                engines[k % 2]._audit_row("t", "SEARCH", f"w{k}-{i}", f"org{k}")
        except Exception as e:  # noqa: BLE001 - the test's subject
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    rows = engines[0].read_table("audit_logs").filter(
        F.col("details").startswith("w")
    ).collect()
    assert len(rows) == 40
    assert sorted(r["id"] for r in rows) == list(range(base, base + 40))
    assert engines[1]._next_id("audit_logs") == base + 40


def test_python_rows_read_back_like_spark_rows(spark, tmp_path):
    """The same rows committed as a DataFrame (collected to Arrow by
    Spark) and as Python rows (converted on the driver) read back
    identically and land in the same partition directories: "" and None
    share Spark's default partition, escaped values match, timestamps
    keep microseconds."""
    import os
    from datetime import datetime, timedelta, timezone

    import pyarrow.parquet as pq

    from the_hive_spark import schemas

    ts = datetime(2026, 3, 4, 5, 6, 7, 123456, tzinfo=timezone(timedelta(hours=2)))
    naive = datetime(2026, 3, 4, 5, 6, 7, 654321)
    orgs = ["tenant0", "", None, "a/b", "x=y", "t 1"]
    audit = [
        (i, [ts, naive, None][i % 3], "10.0.0.1", "SEARCH", f"d{i}", org)
        for i, org in enumerate(orgs)
    ]
    cites = [("/w/a.md", "c1", "alpha text", 0.25), ("/w/b.md", None, None, None)]
    msgs = [("s1", 1, "assistant", "answer", cites, ts),
            ("s1", 0, "user", "question", [], None)]
    by_df = HiveEngine(spark, str(tmp_path / "df"), embedding_dim=16)
    by_rows = HiveEngine(spark, str(tmp_path / "rows"), embedding_dim=16)
    by_df._commit("audit_logs", spark.createDataFrame(audit, schemas.AUDIT_LOGS))
    by_df._commit("chat_messages", spark.createDataFrame(msgs, schemas.CHAT_MESSAGES))
    by_rows._commit("audit_logs", audit)
    by_rows._commit("chat_messages", msgs)

    for name, key in (("audit_logs", "id"), ("chat_messages", "message_index")):
        a = by_df.read_table(name).orderBy(key)
        b = by_rows.read_table(name).orderBy(key)
        assert a.schema == b.schema
        assert a.collect() == b.collect(), name
    got = by_rows.read_table("audit_logs").orderBy("id").collect()
    assert [r["id"] for r in got] == list(range(1, 7))
    assert got[0]["timestamp"].microsecond == 123456
    assert got[1]["timestamp"].microsecond == 654321
    assert [r["organization_id"] for r in got] == [
        "tenant0", None, None, "a/b", "x=y", "t 1"
    ]
    answer = by_rows.read_table("chat_messages").filter("message_index = 1").first()
    assert answer["citations"][0]["score"] == 0.25
    assert answer["citations"][1]["chunk_id"] is None

    def partitions(eng):
        root = eng._path("audit_logs")
        return sorted(d for d in os.listdir(root) if d.startswith("organization_id="))

    assert partitions(by_rows) == partitions(by_df)
    assert "organization_id=__HIVE_DEFAULT_PARTITION__" in partitions(by_rows)
    # small files: no embedded Arrow schema, column statistics kept
    first = by_rows._manifest("audit_logs")["files"][0]
    meta = pq.read_metadata(os.path.join(by_rows._path("audit_logs"), first))
    assert b"ARROW:schema" not in (meta.metadata or {})
    assert meta.row_group(0).column(0).statistics is not None


def _live_files(eng, name):
    import os

    return [os.path.join(eng._path(name), f) for f in eng._manifest(name)["files"]]


def test_chunk_files_share_one_parquet_schema(spark, tmp_path):
    """Every live chunks file has one parquet schema, whichever commit
    wrote it: an ingest, a shrinking update (new rows with the kept rows
    of a rewritten file) and forget_document (kept rows alone). Files
    rewritten from kept rows used to store every column as optional,
    while ingest files stored document_id, chunk_index and tags as
    required."""
    import pyarrow.parquet as pq

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)

    def schemas():
        """The distinct parquet schemas of the live chunks files."""
        found = []
        for f in _live_files(eng, "chunks"):
            schema = pq.read_metadata(f).schema
            if not any(schema.equals(s) for s in found):
                found.append(schema)
        return len(found)

    eng.ingest_batch(seed_files(spark))
    eng.ingest_batch(spark.createDataFrame(
        [("/watch/b_doc.txt", "Tenant b content here.", "orgB", None)], INGEST_FILES,
    ))
    assert schemas() == 1
    eng.ingest_batch(spark.createDataFrame(
        [("/watch/project_alpha.md", "Alpha, short.", "org1", None)], INGEST_FILES,
    ))
    assert schemas() == 1
    assert eng.forget_document("/watch/beta_analysis.md")["chunks"] > 0
    assert schemas() == 1


def test_chunk_embeddings_have_no_dictionary(spark, tmp_path):
    """Float vectors are written without a dictionary page (their values
    do not repeat, so a dictionary only grows the file); other columns
    keep theirs."""
    import pyarrow.parquet as pq

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(seed_files(spark))
    for path in _live_files(eng, "chunks"):
        group = pq.read_metadata(path).row_group(0)
        encodings = {
            group.column(i).path_in_schema: group.column(i).encodings
            for i in range(group.num_columns)
        }
        assert not any("DICTIONARY" in e for e in encodings["embedding.list.element"])
        assert "RLE_DICTIONARY" in encodings["document_id"]
        assert "RLE_DICTIONARY" in encodings["tags.list.element"]


def test_one_commit_writes_one_file_per_partition(spark, tmp_path):
    """An ingest spanning 3 tenants, one of them "", adds exactly one
    chunks file per tenant directory and one documents file, however
    many tasks computed the rows. A predicate commit on events that
    rewrites kept rows keeps their ids and leaves next_id unchanged:
    only added rows advance it."""
    import os

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    orgs = ["orgA", "orgB", ""]
    for batch in range(2):
        files = spark.createDataFrame([
            (f"/w/{batch}-{i}.md", f"Batch {batch} document {i}. It has text.",
             orgs[i % 3], None)
            for i in range(5)
        ], INGEST_FILES).repartition(5)
        before = {t: set(eng._manifest(t)["files"]) for t in ("chunks", "documents")}
        assert eng.ingest_batch(files)["files"] == 5
        added = {
            t: set(eng._manifest(t)["files"]) - before[t] for t in before
        }
        assert sorted(os.path.dirname(f) for f in added["chunks"]) == [
            "organization_id=__HIVE_DEFAULT_PARTITION__",
            "organization_id=orgA",
            "organization_id=orgB",
        ]
        assert len(added["documents"]) == 1

    events = {r["document_name"]: r["id"] for r in eng.read_table("events").collect()}
    assert sorted(events.values()) == list(range(1, 11))
    next_id = eng._next_id("events")
    assert len(eng._manifest("events")["files"]) == 2
    assert eng._commit("events", drop=pc.field("document_name") == "/w/0-2.md") == 1
    del events["/w/0-2.md"]
    assert {
        r["document_name"]: r["id"] for r in eng.read_table("events").collect()
    } == events
    assert eng._next_id("events") == next_id


def test_chat_persists_exactly_what_it_returns(spark, tmp_path):
    """A persisted chat runs retrieval once: the caller's collect()
    launches no Spark job and returns the stored row, whatever commits
    to chunks land after persisting."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=32)
    eng.ingest_batch(seed_files(spark))
    persist = eng._persist_chat

    def persist_then_replace_chunks(*args):
        persist(*args)
        # two commits: the purge unpublishes every chunk file and the
        # ingest deletes them, all before the caller collects
        eng.purge()
        eng.ingest_batch(spark.createDataFrame(
            [("/watch/other.md", "Unrelated text arrives.", "", None)],
            INGEST_FILES,
        ))

    eng._persist_chat = persist_then_replace_chunks
    df = eng.chat("Project Alpha confidential report", top_k=3, session_id="s1")
    sc = spark.sparkContext
    sc.setJobGroup("chat_caller_collect", "chat_caller_collect")
    try:
        out = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # no second retrieval: the caller collects the row already stored
    assert sc.statusTracker().getJobIdsForGroup("chat_caller_collect") == []
    assert len(out) == 1 and len(out[0]["citations"]) == 3
    assert df.schema == eng.chat("any").schema
    stored = eng.chat_history("s1").collect()
    assert [m["message_index"] for m in stored] == [0, 1]
    assert stored[1]["citations"] == out[0]["citations"]
    assert stored[1]["content"] == out[0]["answer"]
    # the session exists once; the next exchange continues its indexes
    eng._persist_chat = persist
    eng.chat("anything", session_id="s1").collect()
    history = eng.chat_history("s1").collect()
    assert [m["message_index"] for m in history] == [0, 1, 2, 3]
    assert eng.read_table("chat_sessions").count() == 1


def test_mixed_batches_exact_rows(spark, tmp_path):
    """Two ingest batches whose files hit the per-file edge cases, with
    every derived row pinned: a whitespace-only document gets a document
    row but no chunk and no event; a keyword that appears only after
    chunk 0 raises no alert; a None organization is stored as "" in
    chunks, alerts and audit rows (chunks and audit_logs write "" to
    the default partition, which reads back as null); an update that
    shrinks a multi-chunk document to one chunk replaces all its
    chunks."""
    import hashlib

    from the_hive_spark.functions.chunkers import chunk_sentence_py

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    long_v1 = " ".join(
        f"Sentence {i} walks the walrus ledger line by line." for i in range(80)
    )
    late = " ".join(
        f"Line {i} of the memo is harmless." for i in range(60)
    ) + " The final line is CONFIDENTIAL."
    texts = {
        "/m/blank.md": ("  \n\t  ", "org1"),
        "/m/late.md": (late, "org1"),
        "/m/long.md": (long_v1, "org1"),
        "/m/noorg.md": ("A CONFIDENTIAL memo for the board.", None),
    }
    assert len(chunk_sentence_py(long_v1)) > 1
    assert "CONFIDENTIAL" not in chunk_sentence_py(late)[0]
    assert "CONFIDENTIAL" in chunk_sentence_py(late)[-1]

    def batch(rows):
        return spark.createDataFrame(
            [(p, t, o, {"filetype": p.rsplit(".", 1)[-1]}) for p, (t, o) in rows.items()],
            INGEST_FILES,
        )

    first = eng.ingest_batch(batch(texts))
    n_late, n_long = len(chunk_sentence_py(late)), len(chunk_sentence_py(long_v1))
    assert first == {"files": 4, "chunks": n_late + n_long + 1, "alerts": 1}
    second_rows = {
        "/m/blank.md": texts["/m/blank.md"],  # unchanged: skipped
        "/m/long.md": ("Now one short sentence.", "org1"),
        "/m/new.txt": ("Fresh text arrives.", "org2"),
    }
    second = eng.ingest_batch(batch(second_rows))
    assert second == {"files": 2, "chunks": 2, "alerts": 0}
    texts.update(second_rows)

    chunks = {
        (r["document_id"], r["chunk_index"], r["content"], r["organization_id"])
        for r in eng.read_table("chunks").collect()
    }
    assert chunks == {
        (p, i, c, o)
        for p, (t, o) in texts.items()
        for i, c in enumerate(chunk_sentence_py(t))
    }
    assert len(chunks) == n_late + 3

    events = [
        (r["id"], r["event_type"], r["document_name"], r["details"])
        for r in eng.read_table("events").orderBy("id").collect()
    ]
    assert events == [
        (1, "ingest", "/m/late.md", f"Ingested {n_late} chunks"),
        (2, "ingest", "/m/long.md", f"Ingested {n_long} chunks"),
        (3, "ingest", "/m/noorg.md", "Ingested 1 chunks"),
        (4, "update", "/m/long.md", "Ingested 1 chunks"),
        (5, "ingest", "/m/new.txt", "Ingested 1 chunks"),
    ]

    alerts = [
        (r["alert_type"], r["message"], r["level"], r["document_id"], r["organization_id"])
        for r in eng.read_table("alerts").collect()
    ]
    assert alerts == [(
        "ALERT", "Document /m/noorg.md contains CONFIDENTIAL content",
        "warning", "/m/noorg.md", "",
    )]

    audit = [
        (r["id"], r["client_ip"], r["action"], r["details"], r["organization_id"])
        for r in eng.read_table("audit_logs").orderBy("id").collect()
    ]
    assert audit == [
        (i, "ingest", "INGEST", f"Client ingested file [{p}]", o)
        for i, (p, o) in enumerate([
            ("/m/blank.md", "org1"), ("/m/late.md", "org1"),
            ("/m/long.md", "org1"), ("/m/noorg.md", None),
            ("/m/long.md", "org1"), ("/m/new.txt", "org2"),
        ], start=1)
    ]

    docs = {
        r["id"]: (r["filename"], r["organization_id"], r["metadata"])
        for r in eng.read_table("documents").collect()
    }
    assert docs == {
        p: (p.rsplit("/", 1)[-1], o, {
            "filetype": p.rsplit(".", 1)[-1],
            "file_hash": hashlib.sha256(t.encode()).hexdigest(),
        })
        for p, (t, o) in texts.items()
    }


def test_concurrent_ingest_of_the_same_new_files(spark, tmp_path, monkeypatch):
    """Two threads ingest the same new files into one engine and meet
    before the chunks commit, so each has classified every file as new.
    The key-scoped commits still leave one row per document and per
    chunk: the second chunks commit drops the first's rows by
    document_id. A commit that skipped that probe for new files would
    store both copies."""
    import threading

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    meet = threading.Barrier(2, timeout=300)
    upsert = eng._upsert

    def meet_before_chunks(name, new, key_cols):
        if name == "chunks":
            meet.wait()
        upsert(name, new, key_cols)

    monkeypatch.setattr(eng, "_upsert", meet_before_chunks)
    results, errors = [], []

    def ingest():
        try:
            results.append(eng.ingest_batch(seed_files(spark)))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=ingest) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert [r["files"] for r in results] == [5, 5]
    docs = eng.read_table("documents")
    assert docs.count() == docs.select("id").distinct().count() == 5
    chunks = eng.read_table("chunks")
    n = results[0]["chunks"]
    assert chunks.count() == chunks.select("id").distinct().count() == n > 0



def _spark_ranking(eng, query, k, organization_id):
    """The Spark plan search ran before the chunk index (scan, cosine,
    TakeOrdered): the reference its rows must equal."""
    from the_hive_spark.operators.similarity import cosine

    chunks = eng.read_table("chunks")
    if organization_id is not None:
        chunks = chunks.filter(F.col("organization_id") == organization_id)
    q = F.array(*[F.lit(float(x)) for x in eng._embed_query(query)])
    return (
        chunks.withColumn("_q", q)
        .withColumn("score", cosine("embedding", "_q"))
        .select(
            F.col("id").alias("chunk_id"), "document_id", "content",
            "chunk_index", "score", F.concat_ws(",", "tags").alias("tags_list"),
            "organization_id",
        )
        .orderBy(F.desc("score"), F.asc("chunk_id"))
        .limit(k)
    )


@pytest.fixture(scope="module")
def index_engine(spark, tmp_path_factory):
    """The seed corpus in org1; the same texts under other paths in orgB
    (exact score ties between documents); one short document in orgC
    (fewer chunks than k); one with no tenant (the default partition);
    and a punctuation-only document, whose embedding is all zeros."""
    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("wh_index")), embedding_dim=32)
    eng.ingest_batch(seed_files(spark))
    eng.ingest_batch(seed_files(spark, org="orgB").withColumn(
        "path", F.regexp_replace("path", "^/watch/", "/copy/")
    ))
    eng.ingest_batch(spark.createDataFrame([
        ("/watch/c_doc.txt", "Tenant C keeps one short note.", "orgC", None),
        ("/watch/shared.txt", "Nobody owns this quarterly report.", None, None),
        ("/watch/punct.txt", "!!! ??? ---", "org1", None),
    ], INGEST_FILES))
    return eng


def test_index_scores_equal_spark_cosine(index_engine):
    """Every chunk's score equals the Spark cosine expression with ==,
    and the ranked rows (ties, nulls, tenants, schema) equal the Spark
    plan's, for queries with and without tokens in the vocabulary."""
    eng = index_engine
    n = eng.read_table("chunks").count()
    queries = [*GOLDEN_QUERIES, "quarterly report", "", "!!!"]
    for query in queries:
        for org, k in ((None, n), ("org1", n), ("org1", 3), ("orgB", n),
                       ("orgC", 5), ("nobody", 3)):
            want = _spark_ranking(eng, query, k, org)
            got = eng.search(query, top_k=k, organization_id=org, audit=False)
            assert got.schema == want.schema
            rows = got.collect()
            assert rows == want.collect(), (query, org, k)
            assert org is None or all(r["organization_id"] == org for r in rows)
    full = eng.search("quarterly report", top_k=n, audit=False).collect()
    assert len(full) == n
    scores = [r["score"] for r in full if r["score"] is not None]
    assert len(scores) > len(set(scores)), "the corpus should hold exact ties"
    assert None in {r["organization_id"] for r in full}
    assert len(eng.search("x", top_k=5, organization_id="orgC").collect()) == 1


def test_zero_vector_does_not_break_search(index_engine):
    """A punctuation-only document stores an all-zero embedding. Its
    score is null and ranks last; the rest of its tenant still ranks,
    and a query with no tokens returns rows with null scores instead of
    a DIVIDE_BY_ZERO error. The contradiction path's Spark cosine
    scores the zero vector null too."""
    eng = index_engine
    n = eng.read_table("chunks").filter(F.col("organization_id") == "org1").count()
    for k in (3, n + 2):
        hits = eng.search("Project Alpha", top_k=k, organization_id="org1").collect()
        assert len(hits) == min(k, n)
    hits = eng.search("Project Alpha", top_k=n, organization_id="org1").collect()
    assert hits[-1]["document_id"] == "/watch/punct.txt"
    assert hits[-1]["score"] is None
    assert all(h["score"] is not None for h in hits[:-1])
    for query in ("", "!!!"):
        hits = eng.search(query, top_k=3).collect()
        assert len(hits) == 3 and all(h["score"] is None for h in hits)
    pairs = eng.contradiction_candidates(new_doc_ids=["/watch/punct.txt"]).collect()
    assert pairs and all(p["score"] is None for p in pairs)


def test_chat_reply_equals_the_spark_aggregate(index_engine):
    """chat's row (context, citations with float scores, answer) and
    schema equal the Spark aggregate chat ran over the ranked rows
    before the chunk index, ties and null scores included."""
    eng = index_engine
    for query, org in (("quarterly report", None), ("quarterly report", "orgB"),
                       ("", "org1"), ("x", "orgC"), ("x", "nobody")):
        want = _spark_ranking(eng, query, 5, org).agg(
            F.concat_ws("\n\n", F.collect_list("content")).alias("context"),
            F.collect_list(F.struct(
                "document_id", "chunk_id", "content",
                F.col("score").cast("float").alias("score"),
            )).alias("citations"),
        ).withColumn("answer", F.format_string(
            "Based on the retrieved context, here is what I found regarding"
            " '%s':\n\n%s", F.lit(query), F.col("context"),
        ))
        got = eng.chat(query, top_k=5, organization_id=org)
        assert got.schema == want.schema
        assert got.collect() == want.collect(), (query, org)


def test_commit_loads_only_new_chunk_files(spark, tmp_path):
    """The chunk index loads each published file once: a commit costs one
    load per file it adds, and files it unpublishes leave the index."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(seed_files(spark))
    index = eng._chunk_index
    loads = []
    load = index._load
    index._load = lambda rel: loads.append(rel) or load(rel)

    def live():
        return set(eng._manifest("chunks")["files"])

    def search_and_count():
        del loads[:]
        eng.search("alpha", audit=False)
        assert set(index._view.where) == live()
        return sorted(loads)

    assert search_and_count() == sorted(live())
    assert search_and_count() == []
    steps = [
        lambda: eng.ingest_batch(spark.createDataFrame(
            [("/watch/b_doc.txt", "tenant b content here", "orgB", None)],
            INGEST_FILES,
        )),
        lambda: eng.ingest_batch(spark.createDataFrame(
            [("/watch/project_alpha.md", "Alpha, short.", "org1", None)],
            INGEST_FILES,
        )),
        lambda: eng.forget_document("/watch/beta_analysis.md"),
        lambda: eng.purge("org1"),
    ]
    for step in steps:
        before = live()
        step()
        assert search_and_count() == sorted(live() - before)


def test_concurrent_searches_see_only_published_versions(spark, tmp_path):
    """A reader looping on search() while ingest, update, forget_document
    and purge commit to chunks sees only whole published versions of
    the table and raises nothing."""
    import threading

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(spark.createDataFrame(
        [("/watch/b_doc.txt", "tenant b content here", "orgB", None)],
        INGEST_FILES,
    ))

    def version():
        return frozenset(
            (r["id"], r["content"]) for r in eng.read_table("chunks").collect()
        )

    valid = {version()}
    seen: list[frozenset] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                hits = eng.search("alpha", top_k=10**6, audit=False).collect()
                seen.append(frozenset((h["chunk_id"], h["content"]) for h in hits))
            except Exception as e:  # noqa: BLE001 - the test's subject
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        steps = [
            lambda: eng.ingest_batch(seed_files(spark, org="orgA")),
            lambda: eng.ingest_batch(spark.createDataFrame(
                [("/watch/project_alpha.md", "Alpha, short.", "orgA", None)],
                INGEST_FILES,
            )),
            lambda: eng.forget_document("/watch/beta_analysis.md"),
            lambda: eng.purge("orgA"),
        ]
        for step in steps:
            step()
            valid.add(version())
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert seen and set(seen) <= valid, (len(set(seen)), len(valid))
    # the purge brings back the first version; the update is its own
    assert len(valid) == 4


@pytest.fixture(scope="module")
def reaction_engine(spark, tmp_path_factory):
    """Documents on the analyst reactions' edge cases: the seed corpus
    in org1 and the same texts under other paths in orgB (exact score
    ties between documents); a document with no tenant (the default
    partition); a punctuation-only document (a zero vector, so null
    scores); keywords in upper and mixed case, one only after chunk 0,
    and non-ASCII text; and chunk rows committed directly: a null first
    chunk (a null alert), a null chunk in the middle of a document, and
    a document whose chunks were written out of chunk_index order.
    Three rules, one of them inactive, in three tenants."""
    from datetime import datetime

    from the_hive_spark import schemas
    from the_hive_spark.functions.embedding import bow_embedding_np
    from tests.fixtures import ALERT_RULE

    eng = HiveEngine(spark, str(tmp_path_factory.mktemp("wh_reactions")), embedding_dim=32)
    eng.ingest_batch(seed_files(spark))
    eng.ingest_batch(seed_files(spark, org="orgB").withColumn(
        "path", F.regexp_replace("path", "^/watch/", "/copy/")
    ))
    late = " ".join(
        f"Line {i} of the memo is harmless." for i in range(60)
    ) + " The final line is CONFIDENTIAL pricing."
    eng.ingest_batch(spark.createDataFrame([
        ("/r/shared.txt", "Nobody owns this quarterly report. Confidential.", None, None),
        ("/r/punct.txt", "!!! ??? ---", "org1", None),
        ("/r/late.md", late, "org1", None),
        ("/r/umlaut.txt", "Überblick: die PRICING-Straße, ſecret und Größe.", "orgC", None),
        ("/r/upper.txt", "CONFIDENTIAL: QUARTERLY PRICING REPORT.", "orgC", None),
    ], INGEST_FILES))
    now = datetime(2026, 1, 1)

    def chunk(doc, i, content, org, vec_text):
        vec = [float(x) for x in bow_embedding_np(vec_text, 32)]
        return (f"{doc}#{i}", doc, content, i, now, org, vec, {}, [])

    eng._commit("chunks", spark.createDataFrame([
        chunk("/r/nullfirst.txt", 0, None, "org1", "quarterly report"),
        chunk("/r/nullfirst.txt", 1, "A secret follows the gap.", "org1", "secret gap"),
        chunk("/r/shuffled.txt", 2, "The third part is Confidential.", "orgB", "third"),
        chunk("/r/shuffled.txt", 0, "The first part: quarterly budget.", "orgB",
              "quarterly budget"),
        chunk("/r/shuffled.txt", 1, None, "orgB", "middle"),
    ], schemas.CHUNKS).coalesce(1))
    eng.add_rule(1, ALERT_RULE, organization_id="org1")
    eng.add_rule(2, "Does this contradict existing documents about pricing?", "orgB")
    eng.add_rule(3, "An inactive rule about secrets", active=False)
    return eng


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple("" if v is None else str(v) for v in r))


def _id_forms(spark, ids):
    """The same ids as a list and as a (repartitioned) DataFrame."""
    return ids, spark.createDataFrame([(i,) for i in ids], "document_id string").repartition(3)


def test_contradiction_batch_equals_the_broadcast_plan(spark, reaction_engine):
    """The driver-side batch path's rows and schema equal the broadcast
    nested-loop plan it replaced: scores with ==, exact ties across
    documents broken by target id, a zero vector's null scores ranked
    last, null and mixed-case CONFIDENTIAL content (null and true
    ``contradicts``), several tenants and the default partition, for
    id lists and DataFrames."""
    from tests.reference_plans import spark_contradiction_batch

    eng = reaction_engine
    n = eng.read_table("documents").count()
    batches = [
        ["/watch/project_alpha.md"],
        ["/watch/beta_analysis.md", "/copy/beta_analysis.md", "/r/shared.txt"],
        ["/r/punct.txt", "/r/nullfirst.txt", "/r/upper.txt", "/r/umlaut.txt",
         "/r/late.md", "/r/shuffled.txt", "/watch/no-such-doc"],
    ]
    for batch in batches:
        for ids in _id_forms(spark, batch):
            for k in (2, 5, n + 2):
                want = spark_contradiction_batch(eng, ids, k)
                got = eng.contradiction_candidates(top_k=k, new_doc_ids=ids)
                assert got.schema == want.schema
                assert _sorted(got.collect()) == _sorted(want.collect()), (batch, k)
    rows = eng.contradiction_candidates(top_k=n, new_doc_ids=batches[2]).collect()
    assert {r["contradicts"] for r in rows} == {None, False, True}
    assert any(r["score"] is None for r in rows)
    alpha = eng.contradiction_candidates(top_k=n, new_doc_ids=batches[0]).collect()
    scores = [r["score"] for r in alpha if r["score"] is not None]
    assert len(scores) > len(set(scores)), "the corpus should hold exact ties"


def test_rule_matches_equal_the_spark_aggregate(spark, reaction_engine):
    """evaluate_rules' rows and schema equal the Spark aggregate it
    replaced (every active rule of every tenant against each requested
    document's chunk_index-ordered text), for all documents, an id list
    and an id DataFrame; the persisted rows are the returned ones."""
    from tests.reference_plans import spark_rule_matches

    eng = reaction_engine
    batch = ["/r/late.md", "/r/umlaut.txt", "/r/upper.txt", "/r/shared.txt",
             "/r/nullfirst.txt", "/r/shuffled.txt", "/r/punct.txt",
             "/watch/project_alpha.md", "/watch/no-such-doc", "/r/late.md"]
    for ids in (None, *_id_forms(spark, batch), []):
        want = spark_rule_matches(eng, ids)
        before = eng.read_table("rule_matches").count()
        got = eng.evaluate_rules(ids)
        assert got.schema == want.schema
        rows = _sorted(got.collect())
        assert rows == _sorted(want.collect()), ids
        assert eng.read_table("rule_matches").count() == before + len(rows)
    docs = {r["uploaded_doc"] for r in eng.evaluate_rules(batch).collect()}
    assert docs == {
        "/r/late.md", "/r/umlaut.txt", "/r/upper.txt", "/r/shared.txt",
        "/r/nullfirst.txt", "/r/shuffled.txt", "/watch/project_alpha.md",
    }


def test_key_probe_equals_the_spark_join(spark, tmp_path):
    """A key-scoped commit probes the live files' key columns with
    pyarrow. Every upsert leaves the same manifest, the same files with
    the same rows and the same dropped-row count as the Spark semi-join
    and anti-join probe it replaced (``tests/reference_plans.py``): for
    documents (map metadata), chunks over tenants "", None, "a/b" and
    "x=y" (tenants come back from the partition directory), logos (a
    two-column key) and null keys on both sides, which drop nothing. A
    file that loses every row is unpublished and not rewritten; a file
    that loses some is rewritten without them."""
    import os
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    from tests.reference_plans import spark_key_hits

    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    driver = HiveEngine(spark, str(tmp_path / "driver"), embedding_dim=4)
    ref = HiveEngine(spark, str(tmp_path / "spark"), embedding_dim=4)
    probed = []
    ref._probe = lambda name, files, keys: (
        probed.append(name) or spark_key_hits(ref, name, files, keys)
    )

    def doc(i, meta):
        return (f"/d/{i}", f"{i}.md", ts, meta, "org1")

    def chunk(d, i, org):
        return (f"{d}-{i}", d, f"text {i}", i, ts, org, [0.5, float(i), 0.0, 1.0],
                {"k": "v"}, ["#legal"])

    def logo(org, name, body):
        return (org, name, body, "image/png", len(body), ts)

    tenants = ["", None, "a/b", "x=y"]
    commits = [
        ("documents", [doc(i, {"file_hash": f"h{i}", "n": str(i)}) for i in range(4)]),
        # one of four rows: the file is rewritten with the other three
        ("documents", [doc(1, {"file_hash": "new"}), doc(9, None)]),
        ("chunks", [chunk(f"doc{j}", i, org) for j, org in enumerate(tenants)
                    for i in range(3)] + [chunk(None, 7, ""), chunk(None, 8, "x=y")]),
        # doc2 fills the a/b file: unpublished; doc0 shares the default
        # partition with doc1 and a null document_id, and doc3 the x=y
        # one with a null document_id: both rewritten; the null key
        # drops nothing
        ("chunks", [chunk("doc0", 0, ""), chunk("doc2", 5, "a/b"), chunk("doc3", 4, "x=y"),
                    chunk(None, 9, "x=y")]),
        ("logos", [logo("o1", "a", b"1"), logo("o1", "b", b"2"), logo("o2", "a", b"3")]),
        ("logos", [logo("o1", "a", b"4"), logo("o2", "b", b"5")]),
        # every live documents row: the file is unpublished, not rewritten
        ("documents", [doc(i, {"v": "2"}) for i in (0, 1, 2, 3, 9)]),
    ]
    keys = {"documents": ["id"], "chunks": ["document_id"], "logos": ["organization_id", "name"]}

    def state(eng, name):
        m = eng._manifest(name)
        files = {
            f: sorted(map(repr, pq.ParquetFile(
                os.path.join(eng._path(name), f)).read().to_pylist()))
            for f in m["files"]
        }
        rows = sorted(map(repr, eng.read_table(name).collect()))
        return m["version"], m["files"], m["unpublished"], files, rows

    dropped = []
    for name, rows in commits:
        n = driver._commit(name, rows, keys[name])
        assert ref._commit(name, rows, keys[name]) == n, name
        assert state(driver, name) == state(ref, name), name
        dropped.append(n)
    assert dropped == [0, 1, 0, 9, 0, 1, 5]
    assert probed == [name for name, _ in commits]

    def tenant_rows(eng):
        return {
            (r["document_id"], r["chunk_index"], r["organization_id"])
            for r in eng.read_table("chunks").collect()
        }

    assert tenant_rows(driver) == {("doc1", i, None) for i in range(3)} | {
        ("doc0", 0, None), ("doc2", 5, "a/b"), ("doc3", 4, "x=y"), (None, 7, None),
        (None, 8, "x=y"), (None, 9, "x=y"),
    }
    chunk_state = driver._manifest("chunks")
    assert sorted(chunk_state["unpublished"]) == [
        "organization_id=__HIVE_DEFAULT_PARTITION__/part-00001-00000.parquet",
        "organization_id=a%2Fb/part-00001-00001.parquet",
        "organization_id=x%3Dy/part-00001-00002.parquet",
    ]
    by_dir = {os.path.dirname(f): f for f in chunk_state["files"] if "00002-" in f}
    assert sorted(by_dir) == [
        "organization_id=__HIVE_DEFAULT_PARTITION__", "organization_id=a%2Fb",
        "organization_id=x%3Dy",
    ]
    assert pq.read_metadata(os.path.join(
        driver._path("chunks"), by_dir["organization_id=a%2Fb"])).num_rows == 1
    assert sorted(r["id"] for r in driver.read_table("documents").collect()) == [
        f"/d/{i}" for i in (0, 1, 2, 3, 9)
    ]
    assert len(driver._manifest("documents")["files"]) == 1
    logos = {(r["organization_id"], r["name"]): r["content"]
             for r in driver.read_table("logos").collect()}
    assert logos == {("o1", "a"): b"4", ("o1", "b"): b"2", ("o2", "a"): b"3",
                     ("o2", "b"): b"5"}


def test_all_changed_ingest_batch_job_count(spark, tmp_path):
    """A 5-file batch whose every file changed runs at most 4 Spark jobs,
    as an all-new one does: the per-file rows come from one collect, the
    chunk rows from the chunks commit's toArrow, and both key-scoped
    commits probe the live files with pyarrow. Each changed document
    keeps only its new chunks, and its row records the new hash."""
    import hashlib

    from the_hive_spark.functions.chunkers import chunk_sentence_py

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    paths = [f"/c/doc{i}.md" for i in range(5)]
    v1 = {p: " ".join(f"Sentence {j} of {p} walks the walrus ledger line by line."
                      for j in range(60)) for p in paths}
    v2 = {p: f"{p} now holds one short sentence." for p in paths}

    def batch(texts):
        return spark.createDataFrame(
            [(p, t, "org1", None) for p, t in texts.items()], INGEST_FILES
        )

    assert eng.ingest_batch(batch(v1))["files"] == 5
    assert eng.read_table("chunks").count() > 5
    stats = {}
    jobs = jobs_in(spark, "ingest_all_changed", lambda: stats.update(
        eng.ingest_batch(batch(v2))))
    assert stats == {"files": 5, "chunks": 5, "alerts": 0}
    assert jobs <= 4, jobs
    chunks = {(r["document_id"], r["chunk_index"], r["content"])
              for r in eng.read_table("chunks").collect()}
    assert chunks == {
        (p, i, c) for p, t in v2.items() for i, c in enumerate(chunk_sentence_py(t))
    }
    hashes = {r["id"]: r["metadata"]["file_hash"]
              for r in eng.read_table("documents").collect()}
    assert hashes == {p: hashlib.sha256(t.encode()).hexdigest() for p, t in v2.items()}
    updates = eng.read_table("events").filter(F.col("event_type") == "update")
    assert sorted(r["document_name"] for r in updates.collect()) == paths


def test_keyed_registry_upserts_run_one_job(spark, tmp_path):
    """add_rule and create_user run no Spark job: their row is a Python
    row, the key probe reads the live files with pyarrow and the audit
    row is written with pyarrow. A second call with the same key
    replaces the row."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    for query in ("flag pricing", "flag secrets"):
        assert jobs_in(spark, f"add_rule {query}", lambda: eng.add_rule(7, query)) == 0
    assert [(r["id"], r["query"]) for r in eng.read_table("rules").collect()] == [
        (7, "flag secrets")
    ]
    for role in ("viewer", "admin"):
        assert jobs_in(spark, f"create_user {role}", lambda: eng.create_user(
            "ann@example.com", role=role)) == 0
    assert [r["role"] for r in eng.read_table("users").collect()] == ["admin"]


def test_predicate_probe_equals_the_spark_query(spark, tmp_path):
    """A predicate commit finds its rows with the same pyarrow probe as
    a key commit. Every drop leaves the same manifest, the same files
    with the same rows and the same dropped-row count as the Spark
    query it replaced (``tests/reference_plans.py``), given the Spark
    ``Column`` each pyarrow expression stands for: tenants "", None,
    "a/b" and "x=y" on chunks (read back from the partition directory,
    where "" is null, so ``== ""`` hits no chunk but does hit documents),
    forget_document's ORs with null columns on both sides (graph_edges'
    doc ids are non-null by schema), a drop of every row, and one drop
    that empties a file (unpublished) and partly hits another
    (rewritten)."""
    import os
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    from tests.reference_plans import spark_predicate_hits

    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    driver = HiveEngine(spark, str(tmp_path / "driver"), embedding_dim=4)
    ref = HiveEngine(spark, str(tmp_path / "spark"), embedding_dim=4)

    def chunk(d, i, org):
        return (f"{d}-{i}", d, f"text {i}", i, ts, org, [0.5, float(i), 0.0, 1.0],
                {"k": "v"}, ["#legal"])

    def match(up, down):
        return (1, "q", up, down, "cross_doc", "YES", "")

    appends = [
        ("chunks", [chunk("docA", 0, ""), chunk("docA", 1, None), chunk("docB", 0, "a/b"),
                    chunk("doc9", 0, "x=y"), chunk("docC", 0, "x=y")]),
        ("chunks", [chunk("docD", 0, "a/b"), chunk("doc9", 1, "x=y"), chunk("doc9", 2, "x=y"),
                    chunk("docE", 0, None)]),
        ("documents", [(f"/d/{i}", f"{i}.md", ts, {"n": str(i)}, org)
                       for i, org in enumerate(["", None, "org1", ""])]),
        ("rule_matches", [match(u, m) for u, m in [
            ("doc9", None), (None, "doc9"), (None, None), (None, "other"), ("other", None),
            ("other", "other"),
        ]]),
        ("graph_edges", [(s, t, "references", "", ts) for s, t in [
            ("doc9", "x"), ("x", "doc9"), ("x", "y"),
        ]]),
        ("events", [(i, ts, "ingest", f"/d/{i}", "") for i in range(3)]),
    ]
    org = pc.field("organization_id")
    drops = [
        ("chunks", org == "a/b", F.col("organization_id") == "a/b"),
        ("chunks", org == "", F.col("organization_id") == ""),
        ("documents", org == "", F.col("organization_id") == ""),
        # doc9 fills the second x=y file and shares the first with docC
        ("chunks", pc.field("document_id") == "doc9", F.col("document_id") == "doc9"),
        ("chunks", org.is_null(), F.col("organization_id").isNull()),
        ("rule_matches",
         (pc.field("uploaded_doc") == "doc9") | (pc.field("matched_doc") == "doc9"),
         (F.col("uploaded_doc") == "doc9") | (F.col("matched_doc") == "doc9")),
        ("graph_edges",
         (pc.field("source_doc_id") == "doc9") | (pc.field("target_doc_id") == "doc9"),
         (F.col("source_doc_id") == "doc9") | (F.col("target_doc_id") == "doc9")),
        ("events", pc.scalar(True), F.lit(True)),
    ]

    def spark_probe(name, files, drop):
        column = next(col for _, expr, col in drops if expr.equals(drop))
        return spark_predicate_hits(ref, name, files, column)

    ref._probe = spark_probe

    def state(eng, name):
        files = {
            f: sorted(map(repr, pq.ParquetFile(
                os.path.join(eng._path(name), f)).read().to_pylist()))
            for f in eng._manifest(name)["files"]
        }
        rows = sorted(map(repr, eng.read_table(name).collect()))
        return eng._manifest(name), files, rows

    for name, rows in appends:
        driver._commit(name, rows)
        ref._commit(name, rows)
    dropped = []
    for name, expr, _ in drops:
        n = driver._commit(name, drop=expr)
        assert ref._commit(name, drop=expr) == n, (name, str(expr))
        assert state(driver, name) == state(ref, name), (name, str(expr))
        dropped.append(n)
    assert dropped == [2, 0, 2, 3, 3, 2, 2, 3]

    chunks = driver._manifest("chunks")
    assert len(chunks["files"]) == 1  # docC's rewritten x=y file
    assert [r["document_id"] for r in driver.read_table("chunks").collect()] == ["docC"]
    assert sorted((
        (r["uploaded_doc"], r["matched_doc"]) for r in driver.read_table("rule_matches").collect()
    ), key=repr) == sorted([(None, None), (None, "other"), ("other", None), ("other", "other")],
                           key=repr)
    assert driver.read_table("events").count() == 0
    assert driver._next_id("events") == 4


def test_changed_document_without_chunks_loses_its_chunks(spark, tmp_path):
    """A changed document whose new text yields no chunks keeps none of
    its old ones: the chunks commit drops every chunk of the batch's
    paths, not only those of the paths that brought new chunks."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)

    def ingest(text):
        return eng.ingest_batch(spark.createDataFrame([("/w/a.md", text, "", None)], INGEST_FILES))

    sentence = "The walrus ledger balances every quarter."
    assert ingest(sentence) == {"files": 1, "chunks": 1, "alerts": 0}
    assert [h["document_id"] for h in eng.search(sentence, audit=False).collect()] == ["/w/a.md"]
    assert ingest("   ") == {"files": 1, "chunks": 0, "alerts": 0}
    assert eng.read_table("chunks").filter(F.col("document_id") == "/w/a.md").count() == 0
    assert all(h["document_id"] != "/w/a.md" for h in eng.search(sentence, audit=False).collect())
    assert [r["n_orphans"] for r in eng.integrity_report().collect()] == [0] * 5


def test_predicate_commits_run_no_spark_job(spark, tmp_path):
    """Field updates, document erasure and tenant and full purges find
    their rows with pyarrow and write with pyarrow: no Spark job."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(seed_files(spark, org="orgA"))
    eng.ingest_batch(spark.createDataFrame(
        [("/watch/b_doc.txt", "tenant b content here", "orgB", None)], INGEST_FILES
    ))
    key = eng.generate_api_key("drone-1")
    user = eng.create_user("ann@example.com")
    calls = {
        "touch_api_key": lambda: eng.touch_api_key(key),
        "set_user_role": lambda: eng.set_user_role(user, "admin"),
        "forget_document": lambda: eng.forget_document("/watch/beta_analysis.md"),
        "purge(org)": lambda: eng.purge("orgA"),
        "purge()": eng.purge,
    }
    assert {name: jobs_in(spark, name, fn) for name, fn in calls.items()} == dict.fromkeys(
        calls, 0
    )
    assert [r["role"] for r in eng.read_table("users").collect()] == ["admin"]
    assert [r["last_seen_at"] is not None for r in eng.read_table("api_keys").collect()] == [True]
    assert eng.read_table("chunks").count() == eng.read_table("documents").count() == 0


def test_point_calls_run_no_spark_job(spark, tmp_path):
    """The registry writes are Python rows and the point reads go through
    pyarrow: none of them runs a Spark job, and each returns what the
    Spark read of its table gives."""
    from datetime import date, datetime, timezone

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    boss = eng.create_user("boss@hq.io", role="super-admin")
    got = {}
    calls = {
        "create_organization": lambda: eng.create_organization("acme", "acme.example"),
        "create_user": lambda: eng.create_user(
            "ann@acme.io", organization_id=got["create_organization"]),
        "add_rule": lambda: eng.add_rule(1, "flag pricing"),
        "add_edge": lambda: eng.add_edge("/w/a.md", "/w/b.md", "references"),
        "set_metadata": lambda: eng.set_metadata("install_date", "2026-01-01"),
        "record_usage": lambda: eng.record_usage("mock", 3, 5),
        "upload_logo": lambda: eng.upload_logo(got["create_organization"], "a.png", b"PNG"),
        "generate_api_key": lambda: eng.generate_api_key("drone"),
        "require_role": lambda: eng.require_role(got["create_user"], ("viewer",)),
        "org_from_domain": lambda: eng.org_from_domain("acme.example"),
        "get_metadata": lambda: eng.get_metadata("install_date"),
        "login_as": lambda: eng.login_as(boss, got["create_user"]),
        "days_active": eng.days_active,
    }
    jobs = {
        name: jobs_in(spark, name, lambda fn=fn, name=name: got.__setitem__(name, fn()))
        for name, fn in calls.items()
    }
    assert jobs == dict.fromkeys(calls, 0)
    assert got["require_role"] is True
    assert got["org_from_domain"] == got["create_organization"]
    assert got["get_metadata"] == "2026-01-01"
    assert got["days_active"] == (datetime.now(timezone.utc).date() - date(2026, 1, 1)).days
    assert got["login_as"] == eng.read_table("users").filter(
        F.col("user_id") == got["create_user"]
    ).collect()[0].asDict()
    assert [r["key"] for r in eng.read_table("api_keys").collect()] == [got["generate_api_key"]]
    for table in ("organizations", "rules", "graph_edges", "usage", "logos", "api_keys"):
        (row,) = eng.read_table(table).collect()
        assert all(v is not None for k, v in row.asDict().items()
                   if k in ("created_at", "timestamp", "uploaded_at")), table
    # a null key is refused before anything is written, as Spark refused it
    with pytest.raises(ValueError, match="not nullable"):
        eng.add_edge(None, "/w/b.md", "references")
    assert eng.read_table("graph_edges").count() == 1


def test_blank_tenant_is_the_null_tenant(spark, tmp_path):
    """Tenant "" is stored in the default partition, which reads back as
    null: a search scoped to "" finds its documents, and purge("") takes
    their documents and chunks and leaves other tenants' rows."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    eng.ingest_batch(spark.createDataFrame([
        ("/w/a.md", "The walrus ledger balances every quarter.", "", None),
        ("/w/b.md", "Tenant b keeps its own notes here.", "orgB", None),
    ], INGEST_FILES))
    hits = eng.search("walrus ledger", top_k=5, organization_id="", audit=False).collect()
    assert [h["document_id"] for h in hits] == ["/w/a.md"]
    b_chunks = sorted(map(tuple, eng.read_table("chunks").filter(
        F.col("organization_id") == "orgB").collect()))
    eng.purge("")
    assert [r["n_orphans"] for r in eng.integrity_report().collect()] == [0] * 5
    assert [r["id"] for r in eng.read_table("documents").collect()] == ["/w/b.md"]
    assert sorted(map(tuple, eng.read_table("chunks").collect())) == b_chunks != []


def _race(*calls):
    """Run each call on its own thread, released together by a barrier;
    re-raises the first error."""
    import sys
    import threading

    barrier = threading.Barrier(len(calls))
    errors: list[BaseException] = []

    def run(fn):
        try:
            barrier.wait()
            fn()
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(fn,)) for fn in calls]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def test_concurrent_updates_of_one_row_keep_both(spark, tmp_path):
    """A heartbeat racing a deactivation on one key: each update reads
    the row under the table lock, so the row ends with both."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    for trial in range(5):
        key = eng.generate_api_key(f"drone-{trial}")
        _race(lambda: eng.touch_api_key(key), lambda: eng.set_api_key_active(key, False))
        (row,) = eng.read_table("api_keys").filter(F.col("key") == key).collect()
        assert (row["last_seen_at"] is not None, row["is_active"]) == (True, False), trial


def test_concurrent_chats_in_one_session(spark, tmp_path):
    """Two threads chatting 10 times each in one session store one
    session row and 40 messages numbered 0-39."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)

    def chat_10(who):
        for i in range(10):
            eng.chat(f"{who} asks {i}", session_id="S", user_id=who)

    _race(lambda: chat_10("u1"), lambda: chat_10("u2"))
    indexes = [r["message_index"] for r in eng.read_table("chat_messages").collect()]
    assert sorted(indexes) == list(range(40))
    assert eng.read_table("chat_sessions").count() == 1


def test_concurrent_api_keys_are_distinct(spark, tmp_path):
    """Two concurrent keys for one client name: each is numbered under
    the table lock, so they differ and both are stored."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    keys = []
    _race(*[lambda: keys.append(eng.generate_api_key("drone"))] * 2)
    assert len(set(keys)) == 2
    assert sorted(r["key"] for r in eng.read_table("api_keys").collect()) == sorted(keys)
