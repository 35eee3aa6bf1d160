"""HiveEngine — the reference's full platform surface as one PySpark
library (SURVEY.md §7.0): a warehouse of partitioned parquet tables
plus DataFrame-returning methods for ingest, semantic search, RAG
retrieval, rules, tagging, contradiction graph, timeline/audit
analytics, stats and purge.

No client/server split: the drone→gRPC→server pipeline (SURVEY.md
§3.2) collapses into ``ingest_batch`` (and streaming/watch.py wraps it
in Structured Streaming). The drone's change-detection state (a
SHA-256 per path, client_db.go:69-79) therefore lives on the document
row itself, as ``documents.metadata["file_hash"]``. External-service
boundaries (embedding provider, LLM) are mockable pandas UDFs;
everything else is built-in DataFrame ops.

Scale notes: tenant tables partition by organization_id (partition
pruning = tenancy, SURVEY.md §1.3). Every table write is one
``_commit``: drop rows by key or predicate, rewrite only the files that
held them, append, and publish the new file list by atomically
replacing the table's manifest (the Delta/Dremel commit shape, written
out on the local filesystem). A commit's rows become one Arrow table
(one Spark job collects a DataFrame; rows already in driver memory, such
as an ingest batch's per-file rows, audit rows, chat messages and
registry rows, take none) and pyarrow writes it as one file per partition directory, laid
out as Spark lays out a partitioned table. Every commit finds the rows
it drops (by key, as an upsert does, or by predicate, as purge, erasure
and field updates do) with one pyarrow scan of the live files, so it
runs no Spark job beyond collecting a DataFrame ``add``; an ingest batch
runs at most four in all.
``events`` and ``audit_logs`` keep ``next_id`` in their manifest:
callers number added rows from 0 and the commit offsets them under the
table lock, so ids stay dense and unique in commit order across threads
and processes. ``export_audit`` keeps Spark's writer: it exports files
and commits to no table.

Search and chat launch no Spark job: they rank on the driver from a
``chunk_index.ChunkIndex`` of the chunks table's live files, which loads
each published file once with pyarrow and scores exactly as the Spark
``cosine`` expression does. The analyst reactions to an ingest batch
(rule evaluation and contradiction candidates) read the same index, so
they launch no job beyond collecting a DataFrame of document ids.
"""

from __future__ import annotations

import fcntl
import json
import logging
import operator
import os
from collections.abc import Callable
from datetime import datetime, timezone
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from the_hive_spark import schemas
from the_hive_spark.chunk_index import ChunkIndex
from the_hive_spark.functions.chunkers import chunk_sentence_udf
from the_hive_spark.functions.embedding import bow_embedding_np, make_embedder
from the_hive_spark.functions.ids import sha256_hex, uuid5_chunk_id
from the_hive_spark.operators.similarity import cosine

_LOG = logging.getLogger(__name__)

# P7 keyword alarm (hive_service.go:222-246)
ALERT_KEYWORD = "CONFIDENTIAL"
# U5 fallback keyword lists (analyst.go:269-292, tagger.go:172-194)
RULE_FALLBACK_KEYWORDS = ["confidential", "pricing", "secret"]
TAG_FALLBACK_KEYWORDS = ["legal", "finance", "urgent", "proposal"]
# P9 cross-doc rule classifier keywords (analyst.go:381-400)
CROSS_DOC_KEYWORDS = [
    "contradict", "contradiction", "contradicts",
    "agreement", "agreements", "breaks agreement",
    "existing document", "existing documents",
    "other document", "other documents",
    "previous document", "previous documents",
    "conflict", "conflicts", "conflicting",
    "violate", "violates", "violation",
    "inconsistent", "inconsistency",
]

_TABLE_SCHEMAS = {
    "documents": schemas.DOCUMENTS,
    "chunks": schemas.CHUNKS,
    "events": schemas.EVENTS,
    "graph_edges": schemas.GRAPH_EDGES,
    "audit_logs": schemas.AUDIT_LOGS,
    "rules": schemas.RULES,
    "api_keys": schemas.API_KEYS,
    "alerts": schemas.ALERTS,
    "rule_matches": schemas.RULE_MATCHES,
    "chat_sessions": schemas.CHAT_SESSIONS,
    "chat_messages": schemas.CHAT_MESSAGES,
    "usage": schemas.USAGE,
    "system_metadata": schemas.SYSTEM_METADATA,
    "users": schemas.USERS,
    "organizations": schemas.ORGANIZATIONS,
    "logos": schemas.LOGOS,
}

# tables physically partitioned by tenant
_ORG_PARTITIONED = {"chunks", "audit_logs"}
# tables whose "id" the commit numbers from the manifest's next_id
_NUMBERED = {"events", "audit_logs"}
# per-table list of live files (hidden from Spark's listing by the "_")
_MANIFEST = "_manifest.json"
# how a partitioned table's tenant is read back from its directory name:
# percent-decoded, with __HIVE_DEFAULT_PARTITION__ as null (as Spark does)
_TENANT_DIRS = ds.partitioning(pa.schema([("organization_id", pa.string())]), flavor="hive")
# characters Spark percent-escapes in a partition directory name
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | set("\"#%'*/:=?[\\]^{\x7f")


class HiveEngine:
    """Facade over the warehouse tables + operator library."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        embedding_dim: int = schemas.EMBEDDING_DIM,
        embedding_provider: str = "bow",
    ) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.embedding_dim = embedding_dim
        self.embedding_provider = embedding_provider
        self._embed = make_embedder(embedding_provider, embedding_dim)
        self._chunk_index = ChunkIndex(self._path("chunks"), embedding_dim)
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------- storage
    # A table is warehouse/<table>/ (organization_id=<v>/ subdirectories
    # for _ORG_PARTITIONED): parquet files plus _manifest.json, which
    # lists the live ones (and, for _NUMBERED tables, the next free id).
    # Readers see only those; _commit is the writer.

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _manifest(self, name: str) -> dict:
        try:
            with open(os.path.join(self._path(name), _MANIFEST)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"version": 0, "files": [], "unpublished": [], "next_id": 1}

    def read_table(self, name: str) -> DataFrame:
        return self._scan(name, self._manifest(name)["files"])

    def _on_live_files(self, name: str, read):
        """``read(files)`` on the table's live file list. A listed file
        is deleted only by the second commit after the manifest was read
        (a commit deletes what the one before it unpublished); when one
        has gone, the manifest is read again."""
        cur = self._manifest(name)
        while True:
            try:
                return read(cur["files"])
            except FileNotFoundError:
                new = self._manifest(name)
                if new["version"] == cur["version"]:
                    raise
                cur = new

    def _read_rows(self, name: str, columns: list[str] | None,
                   where: pc.Expression) -> list[dict]:
        """``columns`` (all when None) of the live rows matching
        ``where``, read by pyarrow."""
        return self._on_live_files(name, lambda files: self._dataset(name, files).to_table(
            columns=columns, filter=where).to_pylist())

    def _row_count(self, name: str) -> int:
        """The table's live rows, from the file footers."""
        root = self._path(name)
        return self._on_live_files(name, lambda files: sum(
            pq.read_metadata(os.path.join(root, f)).num_rows for f in files
        ))

    def _dataset(self, name: str, files: list[str]) -> ds.Dataset:
        """``files`` (relative paths) as one pyarrow dataset of the
        table's Arrow schema; a partitioned table's tenant comes from the
        file's directory, as Spark reads it."""
        root = self._path(name)
        return ds.dataset(
            [os.path.join(root, f) for f in files], to_arrow_schema(_TABLE_SCHEMAS[name]),
            format="parquet", partition_base_dir=root,
            partitioning=_TENANT_DIRS if name in _ORG_PARTITIONED else None,
        )

    def _scan(self, name: str, files: list[str]) -> DataFrame:
        """Rows of ``files`` (relative paths). A directory read filtered
        on file name, so Spark prunes the rest while planning; a list of
        over 32 explicit paths would launch a parallel-listing job."""
        if not files:
            return self.spark.createDataFrame([], _TABLE_SCHEMAS[name])
        return (
            self.spark.read.schema(_TABLE_SCHEMAS[name])
            .parquet(self._path(name))
            .filter(F.col("_metadata.file_name").isin([os.path.basename(f) for f in files]))
        )

    def _commit(
        self,
        name: str,
        add: DataFrame | list[tuple] | Callable[..., list[tuple]] | None = None,
        drop: list[str] | pc.Expression | None = None,
    ) -> int:
        """The one table write: drop rows sharing a key with ``add``
        (``drop`` = key columns) or matching a predicate (``drop`` =
        pyarrow expression; a null result drops nothing), then append
        ``add``: a DataFrame (one ``toArrow`` job, before the lock), a
        list of Python rows in table column order, or ``add(read)``,
        which returns such rows decided under the per-table lock:
        ``read(columns, where)`` gives ``columns`` (all when None) of the
        rows matching ``where`` as the commit holds the table. The
        dropped rows are found by one pyarrow scan of the live files
        (``_probe``), with no Spark job. Only the live files that lose
        rows are unpublished, and a file that keeps some is rewritten
        with them. ``_write`` writes the commit's rows (``add`` and the
        kept rows) as one file per partition, published by atomically
        replacing the manifest. In a _NUMBERED table ``add`` numbers its
        ids from 0: the commit offsets them by the manifest's ``next_id``
        and advances it by the rows added. Files a commit unpublishes are
        deleted by the next one, so a reader holding the previous file
        list keeps working. A commit that adds and drops nothing leaves
        the manifest as it was. Returns the rows dropped."""
        if add is not None and not callable(add):
            add = _to_arrow(name, add)
        root = self._path(name)
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "_lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            cur = self._manifest(name)
            if callable(add):
                # no file is deleted while the lock is held
                add = _rows_to_arrow(name, add(
                    lambda columns, where: self._dataset(name, cur["files"])
                    .to_table(columns=columns, filter=where).to_pylist()
                ))
            if isinstance(drop, list):
                drop = add.select(drop)
            version = cur["version"] + 1
            if name in _NUMBERED and add is not None:
                add = _offset_ids(add, cur["next_id"])
            hits, kept = self._probe(name, cur["files"], drop) if drop is not None else ({}, [])
            tables = [t for t in (add, *kept) if t is not None]
            new = self._write(name, version, tables) if tables else []
            if not new and not hits:  # nothing to publish
                return 0
            gone = [f for f in cur["files"] if f in hits]
            state = {
                "version": version,
                "files": [f for f in cur["files"] if f not in gone] + new,
                "unpublished": gone,
            }
            if name in _NUMBERED:
                state["next_id"] = cur["next_id"] + (add.num_rows if add is not None else 0)
            tmp = os.path.join(root, _MANIFEST + ".tmp")
            with open(tmp, "w") as fh:
                json.dump(state, fh)
            os.replace(tmp, os.path.join(root, _MANIFEST))
            for f in cur["unpublished"]:
                os.remove(os.path.join(root, f))
        return sum(hits.values())

    def _probe(
        self, name: str, files: list[str], drop: pa.Table | pc.Expression
    ) -> tuple[dict[str, int], list[pa.Table]]:
        """The rows of ``files`` that ``drop`` hits, read by pyarrow as
        one dataset: the number each file holds (files without any are
        left out) and the other rows of each file that holds some but not
        all, in table column order. ``drop`` is a predicate or a table of
        keys (``_key_filter``); a row it maps to null is kept, as Spark
        keeps a row whose filter is null."""
        if isinstance(drop, pa.Table):
            drop = _key_filter(drop)
        hit = pc.coalesce(drop, False)
        live = self._dataset(name, files)
        root, hits, kept = self._path(name), {}, []
        for frag in live.get_fragments():
            n = frag.scanner(schema=live.schema, filter=hit, columns=[]).count_rows()
            if n:
                hits[os.path.relpath(frag.path, root)] = n
            if 0 < n < frag.metadata.num_rows:
                kept.append(frag.to_table(schema=live.schema, filter=~hit))
        return hits, kept

    def _write(self, name: str, version: int, tables: list[pa.Table]) -> list[str]:
        """Write ``tables`` into the table as one parquet file per
        partition directory, under names unique to this commit, and
        return their relative paths; no reader sees them until the
        manifest names them. The layout is Spark's: the partition column
        lives in the directory name. Files carry no embedded Arrow schema
        (``store_schema=False``), no text or list column statistics (long
        text is most of a small file's min/max, and no reader prunes on
        it) and no dictionary for float vectors, whose values do not
        repeat."""
        schema = to_arrow_schema(_TABLE_SCHEMAS[name])
        table = pa.concat_tables([t.cast(schema) for t in tables])
        if not table.num_rows:
            return []
        parts = {"": table}
        if name in _ORG_PARTITIONED:
            rows: dict[str, list[int]] = {}
            for i, org in enumerate(table["organization_id"].to_pylist()):
                rows.setdefault(_partition_dir(org), []).append(i)
            table = table.drop_columns(["organization_id"])
            parts = {sub: table.take(i) for sub, i in rows.items()}
        stats = [
            f.name for f in table.schema
            if not (pa.types.is_string(f.type) or pa.types.is_list(f.type))
        ]
        dictionary = [
            path for f in table.schema
            if not (pa.types.is_list(f.type) and pa.types.is_floating(f.type.value_type))
            for path in _leaf_paths(f.name, f.type)
        ]
        root, written = self._path(name), []
        for sub, part in parts.items():
            rel = os.path.join(sub, f"part-{version:05d}-{len(written):05d}.parquet")
            os.makedirs(os.path.join(root, sub), exist_ok=True)
            pq.write_table(
                part, os.path.join(root, rel), store_schema=False,
                write_statistics=stats, use_dictionary=dictionary,
            )
            written.append(rel)
        return written

    def _append(self, name: str, df: DataFrame | list[tuple] | Callable) -> None:
        self._commit(name, df)

    def _replace(self, name: str, df: DataFrame) -> None:
        self._commit(name, df, pc.scalar(True))

    def _upsert(self, name: str, new: DataFrame | list[tuple] | Callable,
                drop: list[str] | pc.Expression) -> None:
        self._commit(name, new, drop)

    # -------------------------------------------------------------- ingest

    def ingest_batch(self, files: DataFrame) -> dict[str, int]:
        """Batch ingest: change-detect → chunk → embed → tag → upsert →
        events/alerts/audit (SURVEY.md §3.2 as one declarative pipeline).

        ``files``: (path, content, organization_id, metadata) rows.
        Returns per-stage row counts (A3 ingest tally).

        The new and changed files, each with its chunks, are one cached
        relation. One collect takes a row per file to the driver; the
        tallies and the events, alerts, audit and documents rows are
        built from those rows and committed with pyarrow. The chunk rows
        are collected by the chunks commit. With the documents read that
        change detection joins, a batch runs at most four Spark jobs.
        The per-file rows are bounded by the batch (``streaming/watch``
        caps a micro-batch at ``MAX_FILES_PER_TRIGGER`` files).
        """
        files = files.withColumn("file_hash", sha256_hex(F.col("content"))).withColumn(
            "metadata",
            F.map_concat(
                F.coalesce(
                    F.col("metadata"),
                    F.expr("cast(map() as map<string,string>)"),
                ),
                F.create_map(F.lit("file_hash"), F.col("file_hash")),
            ),
        )

        # ST2 change detection (decision.go:43-98) against the hash each
        # document keeps in metadata["file_hash"]: unknown path ⇒ new;
        # known path + new hash ⇒ update; same hash ⇒ skip
        known = self.read_table("documents").select(
            F.col("id").alias("path"),
            F.lit(True).alias("_known"),
            F.col("metadata")["file_hash"].alias("_hash"),
        )
        # the batch's one cached relation: each new or changed file with
        # its chunks (F2 sentence-aware server path) in place of its text;
        # every per-file row below is a projection of it
        fresh = (
            files.join(known, "path", "left")
            .filter(
                F.col("_known").isNull() | ~F.col("_hash").eqNullSafe(F.col("file_hash"))
            )
            .select(
                "path",
                "organization_id",
                "metadata",
                F.when(F.col("_known"), F.lit("update")).otherwise(F.lit("ingest"))
                .alias("ingest_type"),
                chunk_sentence_udf(F.col("content")).alias("_chunks"),
            )
            .cache()
        )
        try:
            # one row per new or changed file, with its chunk count and
            # P7 alert flag (keyword on chunk 0, hive_service.go:222-246;
            # a document without chunks has no chunk 0): the batch's one
            # collect, from which the tallies and the events, alerts,
            # audit and documents rows are built on the driver
            per_file = fresh.select(
                "path",
                "organization_id",
                "metadata",
                "ingest_type",
                F.size("_chunks").alias("n_chunks"),
                (F.instr(F.upper(F.try_element_at("_chunks", F.lit(1))), ALERT_KEYWORD) > 0)
                .alias("alert"),
            ).collect()
            if not per_file:
                return {"files": 0, "chunks": 0, "alerts": 0}

            # deterministic ids (F3), embed (U1 mock provider) + fallback
            # keyword tags (U5/U4). Not cached: the UDFs run once per
            # chunk, inside the chunks commit's collect
            tags = F.array_compact(F.array(*[
                F.when(F.instr(F.lower("content"), kw) > 0, F.lit(f"#{kw}"))
                for kw in TAG_FALLBACK_KEYWORDS
            ]))
            chunk_rows = fresh.select(
                F.col("path").alias("document_id"),
                F.posexplode("_chunks").alias("chunk_index", "content"),
                F.coalesce("organization_id", F.lit("")).alias("organization_id"),
                "metadata",
            ).select(
                uuid5_chunk_id(F.col("document_id"), F.col("chunk_index")).alias("id"),
                "document_id",
                "content",
                "chunk_index",
                F.current_timestamp().alias("created_at"),
                "organization_id",
                self._embed(F.col("content")).alias("embedding"),
                "metadata",
                F.slice(tags, 1, 5).alias("tags"),
            )
            # keyed by the batch's paths: a changed document loses every
            # old chunk, even when its new text yields none
            paths = pc.field("document_id").isin([r.path for r in per_file])
            self._upsert("chunks", chunk_rows, paths)

            now = datetime.now(timezone.utc)
            # events: one ingest|update event per document with chunks
            # (events.go:36-62; the type reflects the ST2 new-vs-changed
            # decision), numbered from 0 in path order; the commit
            # offsets them
            with_chunks = sorted(
                (r for r in per_file if (r.n_chunks or 0) > 0), key=lambda r: r.path
            )
            self._append("events", [
                (i, now, r.ingest_type, r.path, f"Ingested {r.n_chunks} chunks")
                for i, r in enumerate(with_chunks)
            ])

            alerts = [
                (now, "ALERT", f"Document {r.path} contains {ALERT_KEYWORD} content",
                 "warning", r.path, r.organization_id or "")
                for r in per_file if r.alert
            ]
            self._append("alerts", alerts)

            # audit INGEST rows (audit_log.go:46-58), numbered in details order
            self._audit(sorted(
                (("ingest", "INGEST", f"Client ingested file [{r.path}]",
                  r.organization_id or "") for r in per_file),
                key=lambda a: a[2],
            ))

            # documents upsert (doc id = path, as ingest_handler.go:92-95)
            # commits last: it records the file's hash, so a batch that
            # fails before here is re-ingested when it is replayed
            self._upsert("documents", [
                (r.path, r.path.rsplit("/", 1)[-1], now, r.metadata, r.organization_id)
                for r in per_file
            ], ["id"])
            return {
                "files": len(per_file),
                "chunks": sum(r.n_chunks or 0 for r in per_file),
                "alerts": len(alerts),
            }
        finally:
            # release the cache, early return included: the cache
            # manager holds it for the life of the session otherwise
            fresh.unpersist()

    # -------------------------------------------------------------- search

    def search(
        self,
        query: str,
        top_k: int = 3,
        organization_id: str | None = None,
        client_ip: str = "local",
        audit: bool = True,
    ) -> DataFrame:
        """T1 top-k cosine semantic search (§3.1 lifecycle).

        Embeds the query with the deterministic mock provider and ranks
        the tenant's chunks (every tenant's when ``organization_id`` is
        None) by cosine, score descending with nulls last, then chunk id.
        The ranking runs on the driver over the chunk index, no Spark job;
        the result is a local relation (``schemas.SEARCH_HITS``), so
        collecting it runs none either. Content/tags live in the same row
        (J1 pre-materialized)."""
        result = self.spark.createDataFrame(
            self._hits(query, top_k, organization_id)
        )
        if audit:
            self._audit_row(
                client_ip,
                "SEARCH",
                f"Client [{client_ip}] searched for [{query}]",
                organization_id or "",
            )
        return result

    def _hits(self, query: str, top_k: int, organization_id: str | None) -> pa.Table:
        view = self._on_live_files("chunks", self._chunk_index.view)
        rows, score, null = view.top_k(
            self._embed_query(query), top_k, organization_id
        )
        return pa.table([
            rows["id"],
            rows["document_id"],
            rows["content"],
            rows["chunk_index"],
            pa.array(score, mask=null),
            # concat_ws(",", tags): null tags and null elements drop out
            [",".join(t for t in tags or () if t is not None)
             for tags in rows["tags"].to_pylist()],
            rows["organization_id"],
        ], schema=to_arrow_schema(schemas.SEARCH_HITS))

    def chat(
        self,
        query: str,
        top_k: int = 5,
        organization_id: str | None = None,
        session_id: str | None = None,
        user_id: str = "local",
    ) -> DataFrame:
        """U7 RAG retrieval: top-k context + citations struct; the
        answer is a template exactly like chat_handler.go:145-150.

        Retrieval is ``search``'s ranking, unaudited; the reply is built
        on the driver and returned as a one-row local relation
        (``schemas.CHAT_REPLY``), so neither call nor collect runs a
        Spark job. When ``session_id`` is given, the exchange persists to
        chat_sessions / chat_messages (ChatStore semantics inferred
        from chat_handler.go:152-196): the returned row is the row that
        was stored."""
        hits = self._hits(query, top_k, organization_id).to_pylist()
        context = "\n\n".join(h["content"] for h in hits if h["content"] is not None)
        row = {
            "context": context,
            "citations": [
                {k: h[k] for k in ("document_id", "chunk_id", "content", "score")}
                for h in hits
            ],
            "answer": "Based on the retrieved context, here is what I found"
            f" regarding '{query}':\n\n{context}",
        }
        # the float cast of each citation score happens in the Arrow array
        reply = pa.Table.from_pylist([row], schema=to_arrow_schema(schemas.CHAT_REPLY))
        if session_id is not None:
            self._persist_chat(
                query, reply.to_pylist()[0], session_id, user_id, organization_id or ""
            )
        return self.spark.createDataFrame(reply)

    def _persist_chat(self, query, row, session_id, user_id, org) -> None:
        mine = pc.field("session_id") == session_id
        now = datetime.now(timezone.utc)
        self._append("chat_sessions", lambda read: [] if read(["session_id"], mine) else [
            (session_id, user_id, org, query[:50], now)
        ])

        def messages(read):
            base = 1 + max((r["message_index"] for r in read(["message_index"], mine)), default=-1)
            return [
                (session_id, base, "user", query, [], now),
                (session_id, base + 1, "assistant", row["answer"], row["citations"], now),
            ]

        self._append("chat_messages", messages)

    def chat_history(self, session_id: str) -> DataFrame:
        return (
            self.read_table("chat_messages")
            .filter(F.col("session_id") == session_id)
            .orderBy("message_index")
        )

    # --------------------------------------------------------------- usage

    def record_usage(self, model: str, input_tokens: int, output_tokens: int,
                     organization_id: str = "") -> None:
        """A9 token accounting (ai.Usage semantics, question.go:100-125)."""
        self._append("usage", [
            (datetime.now(timezone.utc), organization_id, model, input_tokens, output_tokens)
        ])

    def usage_tally(self, organization_id: str | None = None) -> DataFrame:
        """A9 per-org (and per-model) token rollup."""
        u = self.read_table("usage")
        if organization_id is not None:
            u = u.filter(F.col("organization_id") == organization_id)
        return u.groupBy("organization_id", "model").agg(
            F.sum("input_tokens").alias("total_input_tokens"),
            F.sum("output_tokens").alias("total_output_tokens"),
            F.count(F.lit(1)).alias("n_calls"),
        )

    # --------------------------------------------------------------- rules

    def add_rule(
        self, rule_id: int, query: str, organization_id: str = "", active: bool = True
    ) -> None:
        self._upsert("rules", [
            (rule_id, query, active, datetime.now(timezone.utc), organization_id)
        ], ["id"])
        self._audit_row(
            "127.0.0.1", "RULE_ADD", f"rule {rule_id} added: {query}",
            organization_id,
        )

    def active_rules(self, organization_id: str | None = None) -> DataFrame:
        rules = self.read_table("rules").filter(F.col("active"))
        if organization_id is not None:
            rules = rules.filter(F.col("organization_id") == organization_id)
        return rules

    def active_rule_rows(self) -> list[dict]:
        """Every tenant's active rules (id, query), read by pyarrow: no
        Spark job."""
        return self._read_rows("rules", ["id", "query"], pc.field("active"))

    def evaluate_rules(
        self, document_ids: list[str] | DataFrame | None = None
    ) -> DataFrame:
        """J3 rule × document cross-apply with the U5 deterministic
        fallback evaluator (keyword contains ⇒ YES).

        ``document_ids`` (every document when None) come to the driver:
        a list as is, a single-column ``document_id`` DataFrame
        (streaming batches) by one collect. Each document's text is
        assembled from the chunk index, so the evaluation reads only
        the requested documents' chunks and launches no Spark job
        beyond that collect. Returns the rule_matches rows as a local
        relation (``schemas.SINGLE_DOC_MATCHES``); also persists them
        with pyarrow."""
        ids = _on_driver(document_ids)
        rules = self.active_rule_rows()
        rows = self._on_live_files("chunks", self._chunk_index.view).data.rows
        if ids is not None:
            rows = rows.filter(pc.is_in(rows["document_id"], pa.array(ids, pa.string())))
        parts: dict[tuple, list] = {}
        for doc, org, i, content in zip(*(
            rows[c].to_pylist()
            for c in ("document_id", "organization_id", "chunk_index", "content")
        )):
            parts.setdefault((doc, org), []).append((i, content))
        matches = []
        for (doc, org), chunks in parts.items():
            # chunks joined in chunk_index order, as array_sort orders
            # (chunk_index, content) structs (the reference joins in
            # *arrival* order, hive_service.go:157-161 — a quirk we
            # consciously fix; SURVEY.md §7.3); null contents drop out
            chunks.sort(key=lambda p: (p[0] is not None, p[0] or 0, p[1] is not None, p[1] or ""))
            text = "\n\n".join(c for _, c in chunks if c is not None).lower()
            kws = [kw for kw in RULE_FALLBACK_KEYWORDS if kw in text]
            if kws:
                why = f"YES: document contains keywords [{','.join(kws)}]"
                matches += [
                    (r["id"], r["query"], doc, "", "single_doc", why, org) for r in rules
                ]
        self._append("rule_matches", matches)
        self._audit_row(
            "127.0.0.1", "RULE_EVAL",
            "standing rules evaluated (single_doc)", "",
        )
        return self._local(schemas.SINGLE_DOC_MATCHES, matches)

    # NOTE: evaluate_rules_cross_doc (below) writes its own RULE_EVAL
    # audit row too — rule_events() advertises the COMPLETE evaluation
    # trail, both evaluator modes.
    def evaluate_rules_cross_doc(
        self,
        document_ids: list[str] | DataFrame | None = None,
        top_k: int = 10,
    ) -> DataFrame:
        """J4: cross-doc rules (query text hits a P9 keyword,
        analyst.go:381-400) evaluate each new doc against its top-k
        most-similar neighbors (analyst.go:451-568). Deterministic
        fallback: the pair matches when BOTH docs' first chunks contain
        the same rule keyword (mirroring the single-doc U5 fallback
        applied to the pair). Neighbors are ``contradiction_candidates``'
        exact driver-side ranking over the chunk index, for the
        requested documents only (every document when None); the rows
        come back as a local relation (``schemas.CROSS_DOC_MATCHES``)."""
        rules = [
            (r["id"], r["query"]) for r in self.active_rule_rows()
            if r["query"] is not None
            and any(kw in r["query"].lower() for kw in CROSS_DOC_KEYWORDS)
        ]
        rows, s, t, _, _ = self._first_chunk_neighbors(_on_driver(document_ids), top_k)
        doc, content = rows["document_id"].to_pylist(), rows["content"].to_pylist()
        matches = []
        for a, b in zip(s, t):
            src, dst = content[a], content[b]
            if src is not None and dst is not None and any(
                kw in src.lower() and kw in dst.lower() for kw in RULE_FALLBACK_KEYWORDS
            ):
                matches += [
                    (rid, query, doc[a], doc[b], "cross_doc",
                     "YES: both documents contain rule keywords", "")
                    for rid, query in rules
                ]
        self._append("rule_matches", matches)
        self._audit_row(
            "127.0.0.1", "RULE_EVAL",
            "standing rules evaluated (cross_doc)", "",
        )
        return self._local(schemas.CROSS_DOC_MATCHES, matches)

    # ------------------------------------------------------------ api keys

    def generate_api_key(self, client_name: str) -> str:
        """API-key issue (api_keys.go:124-151): deterministic key from
        name+count so tests are reproducible. The count is the table's
        row count under its lock, so concurrent calls get distinct keys."""
        import hashlib

        keys = []

        def issue(_read):
            n = self._row_count("api_keys")
            keys.append("hive_" + hashlib.sha256(f"{client_name}-{n}".encode()).hexdigest()[:32])
            return [(keys[0], client_name, True, datetime.now(timezone.utc), None)]

        self._upsert("api_keys", issue, ["key"])
        return keys[0]

    def set_api_key_active(self, key: str, active: bool) -> None:
        self._update("api_keys", pc.field("key") == key, is_active=active)

    def touch_api_key(self, key: str) -> None:
        """ST6 heartbeat: mark last_seen now (api_keys.go:276-310)."""
        self._update(
            "api_keys", pc.field("key") == key, last_seen_at=datetime.now(timezone.utc)
        )

    def clients_status(self) -> DataFrame:
        """A6 online derivation + F12 key masking for display."""
        from the_hive_spark.functions.textops import mask_key
        from the_hive_spark.streaming.liveness import online_clients

        return online_clients(self.read_table("api_keys")).select(
            mask_key(F.col("key")).alias("masked_key"),
            "client_name",
            "is_active",
            "last_seen_at",
            "is_online",
        )

    # ------------------------------------------------- users / orgs (§2.10)

    ROLES = ("super-admin", "admin", "viewer")  # users_handler.go RBAC tiers

    def create_organization(
        self, name: str, custom_domain: str | None = None
    ) -> str:
        """Org CRUD (tenant_handler.go:13-120 semantics; store file
        missing from snapshot). Deterministic id = UUIDv5(name) so
        re-creation is idempotent, matching the engine's MERGE style."""
        import uuid

        org_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"org-{name}"))
        self._upsert("organizations", [
            (org_id, name, custom_domain, datetime.now(timezone.utc))
        ], ["organization_id"])
        return org_id

    def create_user(
        self,
        email: str,
        role: str = "viewer",
        organization_id: str | None = None,
        display_name: str | None = None,
    ) -> str:
        """User CRUD (users_handler.go:13-263 semantics). Role must be
        one of the reference's three tiers; id = UUIDv5(email)."""
        import uuid

        if role not in self.ROLES:
            raise ValueError(f"unknown role {role!r}; expected one of {self.ROLES}")
        user_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"user-{email}"))
        self._upsert("users", [
            (user_id, email, display_name or email.split("@")[0], role,
             organization_id, True, datetime.now(timezone.utc))
        ], ["user_id"])
        return user_id

    def set_user_role(self, user_id: str, role: str) -> None:
        if role not in self.ROLES:
            raise ValueError(f"unknown role {role!r}; expected one of {self.ROLES}")
        self._update("users", pc.field("user_id") == user_id, role=role)

    def set_user_active(self, user_id: str, active: bool) -> None:
        self._update("users", pc.field("user_id") == user_id, is_active=active)

    def users(self, organization_id: str | None = None) -> DataFrame:
        df = self.read_table("users")
        if organization_id is not None:
            df = df.filter(F.col("organization_id") == organization_id)
        return df.orderBy("email")

    def organizations(self) -> DataFrame:
        return self.read_table("organizations").orderBy("name")

    def require_role(self, user_id: str, allowed: tuple[str, ...]) -> bool:
        """RBAC gate (cmd/hive-server/main.go:535-537 middleware
        analog): active user whose role is in ``allowed``. super-admin
        passes every gate, as in the reference's middleware chain."""
        rows = self._read_rows(
            "users", ["role"], (pc.field("user_id") == user_id) & pc.field("is_active")
        )
        return bool(rows) and (
            rows[0]["role"] == "super-admin" or rows[0]["role"] in allowed
        )

    def org_from_domain(self, domain: str) -> str | None:
        """Tenant-from-domain resolution (the middleware step of §3.1;
        CustomDomainStore semantics from cmd/hive-server/main.go)."""
        rows = self._read_rows(
            "organizations", ["organization_id"], pc.field("custom_domain") == domain
        )
        return rows[0]["organization_id"] if rows else None

    # ------------------------------------------- §2.10 misc surface
    # (misc_handlers.go:13-94 — every one a TODO stub in the
    # reference; implemented here as working supersets)

    def rule_matches(
        self, limit: int = 100, organization_id: str | None = None
    ) -> DataFrame:
        """GET /rules/matches (misc_handlers.go:27-39 stub): the
        persisted standing-rule match log the evaluators append to."""
        m = self.read_table("rule_matches")
        if organization_id is not None:
            m = m.filter(F.col("organization_id") == organization_id)
        return m.orderBy(
            F.desc("rule_id"), F.asc("uploaded_doc"), F.asc("matched_doc")
        ).limit(limit)

    def rule_events(self, limit: int = 100) -> DataFrame:
        """GET /rules/events (misc_handlers.go:41-53 stub): the audit
        trail of rule lifecycle + evaluation actions."""
        return (
            self.read_table("audit_logs")
            .filter(F.col("action").isin("RULE_ADD", "RULE_EVAL"))
            .orderBy(F.desc("timestamp"), F.desc("id"))
            .limit(limit)
        )

    def export_audit(self, path: str, fmt: str = "jsonl") -> int:
        """GET /audit/export (misc_handlers.go:55-67 stub): dump the
        audit log as JSONL or CSV shards; returns the exported row
        count. Timestamps serialize as ISO strings so the export is
        engine-agnostic."""
        if fmt not in ("jsonl", "csv"):
            raise ValueError(f"unsupported export format: {fmt}")
        logs = self.read_table("audit_logs").withColumn(
            "timestamp", F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        ).persist()
        try:
            n = logs.count()
            writer = logs.write.mode("overwrite")
            if fmt == "jsonl":
                writer.json(path)
            else:
                writer.option("header", True).csv(path)
        finally:
            logs.unpersist()
        return n

    def upload_logo(
        self,
        organization_id: str,
        name: str,
        content: bytes,
        content_type: str = "image/png",
    ) -> None:
        """POST /logos/upload (misc_handlers.go:83-94 stub): org
        branding asset as an opaque binary column, idempotent on
        (org, name)."""
        self._upsert("logos", [
            (organization_id, name, content, content_type, len(content),
             datetime.now(timezone.utc))
        ], ["organization_id", "name"])

    def list_logos(self, organization_id: str | None = None) -> DataFrame:
        """GET /logos (misc_handlers.go:70-81 stub): metadata listing
        only — the binary column is projected OUT, so the scan prunes
        to a few bytes per row however large the assets are."""
        logos = self.read_table("logos").select(
            "organization_id", "name", "content_type", "uploaded_at",
            "n_bytes",
        )
        if organization_id is not None:
            logos = logos.filter(F.col("organization_id") == organization_id)
        return logos.orderBy("organization_id", "name")

    def login_as(self, actor_user_id: str, target_user_id: str) -> dict:
        """POST /login-as (misc_handlers.go:13-25 stub): super-admin
        impersonation — validates the actor's role, refuses inactive
        targets, and leaves an audit trail naming both parties."""
        if not self.require_role(actor_user_id, ("super-admin",)):
            raise PermissionError(
                f"login-as requires super-admin, denied for {actor_user_id}"
            )
        target = self._read_rows("users", None, pc.field("user_id") == target_user_id)
        if not target or not target[0]["is_active"]:
            raise ValueError(f"login-as target unavailable: {target_user_id}")
        row = target[0]
        self._audit_row(
            "127.0.0.1",
            "LOGIN_AS",
            f"user {actor_user_id} logged in as {target_user_id}",
            row["organization_id"] or "",
        )
        # timestamps as Spark collects them: naive, in local time
        return {k: v.astimezone().replace(tzinfo=None) if isinstance(v, datetime) else v
                for k, v in row.items()}

    # ---------------------------------------------------- system metadata

    def set_metadata(self, key: str, value: str) -> None:
        """K/V system metadata upsert (system_metadata.go:28-60)."""
        self._upsert("system_metadata", [(key, value)], ["key"])

    def get_metadata(self, key: str) -> str | None:
        rows = self._read_rows("system_metadata", ["value"], pc.field("key") == key)
        return rows[0]["value"] if rows else None

    def days_active(self, as_of: str | None = None) -> int:
        """A7: whole days since install_date (system_metadata.go:96-104,
        int(time.Since(install).Hours()/24)). ``as_of`` (YYYY-MM-DD)
        pins 'now' for deterministic tests; default is today in UTC, the
        session time zone."""
        install = self.get_metadata("install_date")
        if install is None:
            return 0
        now = datetime.fromisoformat(as_of) if as_of else datetime.now(timezone.utc)
        return max((now.date() - datetime.fromisoformat(install).date()).days, 0)

    def trial_days_remaining(
        self, trial_days: int = 365, as_of: str | None = None
    ) -> int:
        """A8: licensing trial countdown (licensing_middleware.go:70-84,
        middleware/license.go:17-76 — 365-day trial from install)."""
        return max(trial_days - self.days_active(as_of=as_of), 0)

    # --------------------------------------------------------------- graph

    def contradiction_candidates(
        self,
        top_k: int = 5,
        new_doc_ids: list[str] | DataFrame | None = None,
        n_planes: int = 64,
        n_bands: int = 8,
    ) -> DataFrame:
        """J2: for each document, its top-k most-similar other docs —
        the candidate pairs the analyst would LLM-check (analyst.go:
        295-377, which takes the top-5 *ANN* neighbors per new doc from
        its vector store). Deterministic fallback marks a 'contradicts'
        edge when both docs alert on the keyword predicate. A document
        is its first chunk's vector and content.

        Two scale paths, neither a cartesian:

        - ``new_doc_ids`` given (the per-ingest-batch shape the
          reference actually runs): the ids come to the driver, a list
          as is and a single-column DataFrame by one collect, and
          their count decides the path (``advise_rowcount`` against
          the session's broadcast threshold). A batch under it is
          ranked exactly on the driver over the chunk index: each new
          document against every document, scores ``==`` the Spark
          ``cosine``, ties by target id, null scores last. No Spark
          job beyond that collect; the rows come back as an
          Arrow-backed local relation (``schemas.CONTRADICTION_PAIRS``).
          A batch over it (a backlog replay) takes the banded-LSH
          index path below, restricted to the batch's sources.
        - corpus-wide sweep (``new_doc_ids=None``): banded SRP-LSH
          candidate pairs (the AND-OR construction from
          functions/lsh.py) then per-source top-k within candidates.
          Approximate like the reference's ANN store; the only shuffle
          is the (id, band, val) equi-join, which is how this survives
          where the old all-pairs BroadcastNestedLoopJoin could not.
          Docs whose bands collide with nothing yield no rows, exactly
          as an ANN index returns no neighbors below its recall floor.

          The band width is the recall-vs-candidate-volume dial: the
          8-bit default (64 planes / 8 bands) keeps background
          collisions at ~3% of pairs while retaining ~50%+ recall on
          moderately similar (cos ≥ 0.7) neighbors. All-doc top-k over
          LOW-similarity corpora is inherently an index problem — at
          that scale run the per-batch path per partition of new docs,
          or widen bands (fewer bits) accepting more candidates.
        """
        from pyspark.sql import Window

        from the_hive_spark.functions.lsh import lsh_near_dup_candidates
        from the_hive_spark.plans.advisor import advise_rowcount

        batch_ids: DataFrame | None = None
        if new_doc_ids is not None:
            ids = _on_driver(new_doc_ids)
            # float vectors dominate the row (4 B/component) plus
            # id/flag overhead
            decision = advise_rowcount(
                self.spark, len(ids), bytes_per_row=64 + 4 * self.embedding_dim
            )
            # the path (exact driver ranking vs banded LSH index) is
            # invisible in the result rows; log it so a backlog
            # replay's approximate output is distinguishable
            _LOG.info("contradiction_candidates batch path: %r", decision)
            if decision.broadcast:
                return self._contradiction_pairs(ids, top_k)
            # a distributed relation, not an isin literal: an O(batch)
            # IN expression blows up plan/codegen at exactly the batch
            # sizes this path exists for
            batch_ids = new_doc_ids if isinstance(new_doc_ids, DataFrame) else (
                self.spark.createDataFrame([(i,) for i in ids], "document_id string")
            )

        doc_vecs = (
            self.read_table("chunks")
            .filter(F.col("chunk_index") == 0)
            .select(
                "document_id",
                "embedding",
                (F.instr(F.upper("content"), ALERT_KEYWORD) > 0).alias("_alert"),
            )
        )
        flags = doc_vecs.select("document_id", "_alert")
        cand = lsh_near_dup_candidates(
            doc_vecs.select("document_id", "embedding"),
            id_col="document_id",
            vec_col="embedding",
            n_planes=n_planes,
            n_bands=n_bands,
        )
        undirected = cand.withColumn("score", cosine("vec_a", "vec_b")).select(
            "id_a", "id_b", "score"
        )
        directed = undirected.union(
            undirected.select(
                F.col("id_b").alias("id_a"),
                F.col("id_a").alias("id_b"),
                "score",
            )
        )
        scored = (
            directed.withColumnsRenamed(
                {"id_a": "source_doc_id", "id_b": "target_doc_id"}
            )
            .join(
                flags.withColumnsRenamed(
                    {"document_id": "source_doc_id", "_alert": "_alert_a"}
                ),
                "source_doc_id",
            )
            .join(
                flags.withColumnsRenamed(
                    {"document_id": "target_doc_id", "_alert": "_alert_b"}
                ),
                "target_doc_id",
            )
        )
        if batch_ids is not None:
            scored = _restrict_to_ids(scored, "source_doc_id", batch_ids)

        w = Window.partitionBy("source_doc_id").orderBy(
            F.desc("score"), F.asc("target_doc_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .select(
                "source_doc_id",
                "target_doc_id",
                "score",
                (F.col("_alert_a") & F.col("_alert_b")).alias("contradicts"),
            )
        )

    def _contradiction_pairs(self, ids: list[str], top_k: int) -> DataFrame:
        """The exact batch path of ``contradiction_candidates``."""
        rows, s, t, score, null = self._first_chunk_neighbors(ids, top_k)
        # instr(upper(content), ALERT_KEYWORD) > 0, null for null content
        u = np.union1d(s, t)
        alert = dict(zip(u, (
            c if c is None else ALERT_KEYWORD in c.upper()
            for c in rows["content"].take(u).to_pylist()
        )))
        return self.spark.createDataFrame(pa.table([
            rows["document_id"].take(s),
            rows["document_id"].take(t),
            pa.array(score, mask=null),
            # SQL AND: false beats null, null beats true
            [False if False in (alert[a], alert[b]) else alert[a] and alert[b]
             for a, b in zip(s, t)],
        ], schema=to_arrow_schema(schemas.CONTRADICTION_PAIRS)))

    def _first_chunk_neighbors(self, ids: list[str] | None, top_k: int):
        """The chunk index's rows, and for each document in ``ids``
        (every document when None) its ``top_k`` nearest other
        documents by the cosine of their first chunks: source row,
        target row, score and null mask per pair (``_View.neighbors``)."""
        view = self._on_live_files("chunks", self._chunk_index.view)
        rows = view.data.rows
        first = pc.fill_null(pc.equal(rows["chunk_index"], 0), False)
        cand = np.flatnonzero(first.to_numpy(zero_copy_only=False))
        src = cand
        if ids is not None:
            mine = pc.is_in(rows["document_id"].take(cand), pa.array(ids, pa.string()))
            src = cand[mine.to_numpy(zero_copy_only=False)]
        return rows, *view.neighbors(src, cand, top_k)

    def add_edge(
        self, src: str, dst: str, relationship: str, description: str = ""
    ) -> None:
        self._upsert(
            "graph_edges",
            [(src, dst, relationship, description, datetime.now(timezone.utc))],
            ["source_doc_id", "target_doc_id", "relationship_type"],
        )

    def graph_nodes(self) -> DataFrame:
        """A5 union-distinct node derivation."""
        e = self.read_table("graph_edges")
        return (
            e.select(F.col("source_doc_id").alias("node_id"))
            .union(e.select("target_doc_id"))
            .distinct()
        )

    def graph_neighborhood(self, doc_id: str) -> DataFrame:
        """J5 disjunctive neighborhood."""
        e = self.read_table("graph_edges")
        return e.filter(
            (F.col("source_doc_id") == doc_id) | (F.col("target_doc_id") == doc_id)
        )

    # ----------------------------------------------------- timeline / stats

    def timeline(self, limit: int = 100, document_name: str | None = None) -> DataFrame:
        """T2/P3 recent events."""
        ev = self.read_table("events")
        if document_name is not None:
            ev = ev.filter(F.col("document_name") == document_name)
        return ev.orderBy(F.desc("timestamp"), F.desc("id")).limit(limit)

    def audit(self, limit: int = 50, action: str | None = None,
              organization_id: str | None = None) -> DataFrame:
        """T3/P4 recent audit logs with optional filters."""
        logs = self.read_table("audit_logs")
        if action is not None:
            logs = logs.filter(F.col("action") == action)
        if organization_id is not None:
            logs = logs.filter(F.col("organization_id") == organization_id)
        return logs.orderBy(F.desc("timestamp"), F.desc("id")).limit(limit)

    def stats(self) -> dict[str, int]:
        """A1/A2 chunk + vector counts, from file footers and the chunk
        index: no Spark job."""
        chunks = self._on_live_files("chunks", self._chunk_index.view).data
        return {
            "total_chunks": len(chunks.ids),
            "total_vectors": int(chunks.vec.sum()),
            "total_documents": self._row_count("documents"),
        }

    def purge(self, organization_id: str | None = None) -> None:
        """S16: tenant purge = partition drop; full purge = table reset.
        Tenant "" is also the null tenant: ingest writes it to the default
        partition, which reads back as null."""
        org = pc.field("organization_id")
        doomed = (
            pc.scalar(True) if organization_id is None
            else (org == "") | org.is_null() if organization_id == ""
            else org == organization_id
        )
        for t in ("chunks", "documents"):
            self._commit(t, drop=doomed)

    def integrity_report(self) -> DataFrame:
        """Warehouse self-audit: orphan counts for every internal
        foreign key (chunks→documents, alerts→documents,
        rule_matches→rules, chat_messages→chat_sessions,
        users→organizations) — the load-validation gate run against
        the engine's OWN tables, same one-pass-per-table conditional-
        aggregation shape as the testdata referential audit
        (operators/analytics.py::q_referential_integrity_audit).
        A non-zero row means an upsert/purge path broke atomicity.
        """
        checks = [
            ("chunks.document_id -> documents", "chunks", "document_id",
             "documents", "id"),
            ("alerts.document_id -> documents", "alerts", "document_id",
             "documents", "id"),
            ("rule_matches.rule_id -> rules", "rule_matches", "rule_id",
             "rules", "id"),
            ("chat_messages.session_id -> chat_sessions", "chat_messages",
             "session_id", "chat_sessions", "session_id"),
            ("users.organization_id -> organizations", "users",
             "organization_id", "organizations", "organization_id"),
        ]
        parts: list[DataFrame] = []
        for label, fact_t, fk, dim_t, pk in checks:
            fact = self.read_table(fact_t).select(F.col(fk))
            keys = (
                self.read_table(dim_t)
                .select(F.col(pk).alias(fk))
                .distinct()
                .withColumn("_ok", F.lit(1))
            )
            row = (
                fact.filter(F.col(fk).isNotNull())
                # unhinted: the documents key set is corpus-sized at
                # scale; AQE broadcasts the genuinely small dims
                .join(keys, fk, "left")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    # coalesce: SUM over an EMPTY fact table is NULL,
                    # and an empty table has zero orphans, not unknown
                    F.coalesce(
                        F.sum(F.when(F.col("_ok").isNull(), 1).otherwise(0)),
                        F.lit(0),
                    )
                    .cast("bigint")
                    .alias("n_orphans"),
                )
            )
            parts.append(row.select(F.lit(label).alias("fk"), "n_rows", "n_orphans"))
        return reduce(DataFrame.unionAll, parts)

    def forget_document(self, document_id: str) -> dict[str, int]:
        """Right-to-erasure at document granularity (the GDPR-shaped
        complement of the tenant-level purge): remove the document and
        every derived artifact keyed to it — chunks, alerts, rule
        matches, graph edges — and leave an audit row recording the
        erasure (the one trace that legally should remain). Returns
        per-table deleted-row counts.

        Each table is one predicate commit: its pyarrow probe counts the
        rows to delete, and only the files holding them are rewritten; no
        Spark job runs.
        """
        preds = {
            "documents": pc.field("id") == document_id,
            "chunks": pc.field("document_id") == document_id,
            "alerts": pc.field("document_id") == document_id,
            "rule_matches": (pc.field("uploaded_doc") == document_id)
            | (pc.field("matched_doc") == document_id),
            "graph_edges": (pc.field("source_doc_id") == document_id)
            | (pc.field("target_doc_id") == document_id),
        }
        deleted = {tbl: self._commit(tbl, drop=pred) for tbl, pred in preds.items()}
        self._audit_row(
            "127.0.0.1",
            "FORGET",
            f"document {document_id} erased"
            f" ({sum(deleted.values())} rows across {len(preds)} tables)",
            "",
        )
        return deleted

    def _embed_query(self, query: str):
        from the_hive_spark.functions.embedding import mock_embedding_np

        if self.embedding_provider == "bow":
            return bow_embedding_np(query, self.embedding_dim)
        return mock_embedding_np(query, self.embedding_dim)

    # ------------------------------------------------------------- helpers

    def _update(self, name: str, where: pc.Expression, **values) -> None:
        """Set ``values`` (Python values) on the rows of ``name``
        matching ``where``: one commit that reads the rows under its lock
        and drops them by the same predicate, so concurrent updates of
        one row each keep the other's values. No Spark job."""
        self._commit(name, lambda read: [
            tuple({**r, **values}.values()) for r in read(None, where)
        ], where)

    def _next_id(self, name: str) -> int:
        """The id the next commit to a _NUMBERED table starts at."""
        return self._manifest(name)["next_id"]

    def _audit(self, rows: list[tuple]) -> None:
        """Append (client_ip, action, details, organization_id) rows,
        numbered from 0 in list order; the commit offsets the ids."""
        now = datetime.now(timezone.utc)
        self._append("audit_logs", [(i, now, *r) for i, r in enumerate(rows)])

    def _audit_row(
        self, client_ip: str, action: str, details: str, organization_id: str
    ) -> None:
        self._audit([(client_ip, action, details, organization_id)])

    def _local(self, schema: StructType, rows: list[tuple]) -> DataFrame:
        """``rows`` as an Arrow-backed local relation of ``schema``,
        nullability included: building or collecting it runs no Spark
        job."""
        arrow = to_arrow_schema(schema)
        return self.spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(arrow.names, r)) for r in rows], schema=arrow
        ))


def _on_driver(ids: list[str] | DataFrame | None) -> list[str] | None:
    """The distinct non-null ids of ``ids`` on the driver: None stays
    None (every document), a list is taken as is, and a single-column
    DataFrame is collected (one job; none for a local relation)."""
    if ids is None:
        return None
    if isinstance(ids, DataFrame):
        (col,) = ids.columns
        ids = [r[col] for r in ids.collect()]
    return [i for i in dict.fromkeys(ids) if i is not None]


def _restrict_to_ids(df: DataFrame, col: str, ids: DataFrame) -> DataFrame:
    """Restrict ``df`` to rows whose ``col`` is in the single-column
    ``ids``, by LEFT SEMI join: the banded-LSH path's batch restriction,
    for a batch too big for the driver-side exact path (which takes its
    ids to the driver and reads the chunk index). AQE broadcasts the
    small side at runtime."""
    # no distinct(): LEFT SEMI already emits each left row at most once
    # whatever the right side's duplication — a pre-distinct is a whole
    # extra shuffle per micro-batch for nothing
    (id_col,) = ids.columns
    return df.join(ids.withColumnRenamed(id_col, col), on=col, how="left_semi")


def _to_arrow(name: str, add: DataFrame | list[tuple]) -> pa.Table:
    """``add`` as an Arrow table of the table's schema: one ``toArrow``
    job for a DataFrame, none for Python rows."""
    if isinstance(add, list):
        return _rows_to_arrow(name, add)
    schema = to_arrow_schema(_TABLE_SCHEMAS[name])
    return add.select(*schema.names).toArrow().cast(schema)


def _rows_to_arrow(name: str, rows: list[tuple]) -> pa.Table:
    """Python rows in table column order as an Arrow table of the
    table's schema; naive timestamps are local time, as Spark reads
    them. A None in a non-nullable column raises ValueError, as Spark's
    ``createDataFrame`` does: parquet would store the column as required
    and the file would not read back."""
    schema = _TABLE_SCHEMAS[name]
    arrow = to_arrow_schema(schema)
    ts = {j for j, f in enumerate(schema.fields) if isinstance(f.dataType, TimestampType)}
    table = pa.Table.from_arrays([
        pa.array(
            [r[j] and r[j].astimezone(timezone.utc) if j in ts else r[j] for r in rows],
            arrow.field(j).type,
        )
        for j in range(len(arrow))
    ], schema=arrow)
    for f, col in zip(arrow, table.columns):
        if not f.nullable and col.null_count:
            raise ValueError(f"{name}.{f.name} is not nullable, but got None")
    return table


def _key_filter(keys: pa.Table) -> pc.Expression:
    """The rows sharing a key with a row of ``keys``: ``isin`` over the
    distinct keys of one column, else an OR over the keys of their
    column equalities. A key with a null column matches nothing, as in
    Spark's equi-join."""
    keys = keys.drop_null().group_by(keys.column_names).aggregate([])
    if keys.num_columns == 1:
        return pc.field(keys.column_names[0]).isin(keys.column(0).combine_chunks())
    return reduce(operator.or_, (
        reduce(operator.and_, (pc.field(c) == v for c, v in key.items()))
        for key in keys.to_pylist()
    ), pc.scalar(False))


def _leaf_paths(name: str, t: pa.DataType) -> list[str]:
    """The parquet column paths of an Arrow field, as pyarrow names the
    leaves of nested types."""
    if pa.types.is_map(t):
        return (_leaf_paths(f"{name}.key_value.key", t.key_type)
                + _leaf_paths(f"{name}.key_value.value", t.item_type))
    if pa.types.is_list(t):
        return _leaf_paths(f"{name}.list.element", t.value_type)
    if pa.types.is_struct(t):
        return [p for f in t for p in _leaf_paths(f"{name}.{f.name}", f.type)]
    return [name]


def _offset_ids(add: pa.Table, base: int) -> pa.Table:
    """``add`` with its 0-based ``id`` column shifted to start at ``base``
    ("id" is the first column of every _NUMBERED table)."""
    return add.set_column(0, "id", pc.add(add["id"], base))


def _partition_dir(value: str | None) -> str:
    """The directory Spark writes an ``organization_id`` value to: null
    and "" share the default partition, other values are escaped."""
    if not value:
        return "organization_id=__HIVE_DEFAULT_PARTITION__"
    return "organization_id=" + "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value
    )


def _order_all(col: str):
    """Single-partition ordering window — ONLY for inputs of one row per
    document of a trigger-bounded micro-batch (the completion events of
    ``streaming/pipeline.analyze_batch``). Bulk paths use
    functions.ids.dense_sequential_ids instead, which numbers rows
    without a single-partition stage."""
    from pyspark.sql import Window

    return Window.orderBy(col)
