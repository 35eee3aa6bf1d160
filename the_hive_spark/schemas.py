"""Explicit StructType schemas for every engine table (FIXTURES.md).

The reference declares fixed DDL at startup (cmd/hive-server/main.go:
450-510) with opaque-TEXT metadata and JSON-in-string tags; here the
same tables get first-class Spark types: MapType metadata,
ArrayType(FloatType) embeddings, ArrayType(StringType) tags,
TimestampType datetimes. ``organization_id`` is a partition column on
every tenant-scoped table so partition pruning implements tenancy
isolation (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EMBEDDING_DIM = 384  # mock embedder default (embeddings.go:45-49)

DOCUMENTS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("filename", StringType(), True),
        StructField("uploaded_at", TimestampType(), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
        StructField("organization_id", StringType(), True),
    ]
)

CHUNKS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("document_id", StringType(), True),
        StructField("content", StringType(), True),
        StructField("chunk_index", IntegerType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("organization_id", StringType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
        StructField("tags", ArrayType(StringType()), True),
    ]
)

EVENTS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("timestamp", TimestampType(), True),
        StructField("event_type", StringType(), True),  # ingest|update|alert
        StructField("document_name", StringType(), True),
        StructField("details", StringType(), True),
    ]
)

GRAPH_EDGES = StructType(
    [
        StructField("source_doc_id", StringType(), False),
        StructField("target_doc_id", StringType(), False),
        StructField("relationship_type", StringType(), False),  # contradicts|references
        StructField("description", StringType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)

AUDIT_LOGS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("timestamp", TimestampType(), True),
        StructField("client_ip", StringType(), True),
        StructField("action", StringType(), True),  # SEARCH|INGEST
        StructField("details", StringType(), True),
        StructField("organization_id", StringType(), True),
    ]
)

RULES = StructType(
    [
        StructField("id", LongType(), False),
        StructField("query", StringType(), True),
        StructField("active", BooleanType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("organization_id", StringType(), True),
    ]
)

API_KEYS = StructType(
    [
        StructField("key", StringType(), False),
        StructField("client_name", StringType(), True),
        StructField("is_active", BooleanType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("last_seen_at", TimestampType(), True),
    ]
)

ALERTS = StructType(
    [
        StructField("timestamp", TimestampType(), True),
        StructField("alert_type", StringType(), True),
        StructField("message", StringType(), True),
        StructField("level", StringType(), True),
        StructField("document_id", StringType(), True),
        StructField("organization_id", StringType(), True),
    ]
)

RULE_MATCHES = StructType(
    [
        StructField("rule_id", LongType(), True),
        StructField("rule_query", StringType(), True),
        StructField("uploaded_doc", StringType(), True),
        StructField("matched_doc", StringType(), True),
        StructField("match_type", StringType(), True),  # single_doc|cross_doc
        StructField("ai_explanation", StringType(), True),
        StructField("organization_id", StringType(), True),
    ]
)

CITATION = StructType(
    [
        StructField("document_id", StringType(), True),
        StructField("chunk_id", StringType(), True),
        StructField("content", StringType(), True),
        StructField("score", FloatType(), True),
    ]
)

# ChatStore semantics inferred from call-sites (store file missing from
# the snapshot — SURVEY.md §"Snapshot caveat"; chat_handler.go:152-196,
# chat_sessions_handler.go:14-160)
CHAT_SESSIONS = StructType(
    [
        StructField("session_id", StringType(), False),
        StructField("user_id", StringType(), True),
        StructField("organization_id", StringType(), True),
        StructField("title", StringType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)

CHAT_MESSAGES = StructType(
    [
        StructField("session_id", StringType(), False),
        StructField("message_index", IntegerType(), False),
        StructField("role", StringType(), True),  # user|assistant
        StructField("content", StringType(), True),
        StructField("citations", ArrayType(CITATION), True),
        StructField("created_at", TimestampType(), True),
    ]
)

# UsageStore semantics from ai.Usage{InputTokens,OutputTokens,Model}
# (internal/ai/question.go:100-125, cmd/hive-server/main.go:225-229)
USAGE = StructType(
    [
        StructField("timestamp", TimestampType(), True),
        StructField("organization_id", StringType(), True),
        StructField("model", StringType(), True),
        StructField("input_tokens", LongType(), True),
        StructField("output_tokens", LongType(), True),
    ]
)

# §2.10 management dims — store files missing from the reference
# snapshot; schemas inferred from handler call-sites
# (internal/server/users_handler.go:13-263, tenant_handler.go:13-120,
# SURVEY.md snapshot caveat). Kept minimal and additive.
USERS = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("email", StringType(), True),
        StructField("display_name", StringType(), True),
        StructField("role", StringType(), True),  # super-admin|admin|viewer
        StructField("organization_id", StringType(), True),
        StructField("is_active", BooleanType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)

ORGANIZATIONS = StructType(
    [
        StructField("organization_id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("custom_domain", StringType(), True),
        StructField("created_at", TimestampType(), True),
    ]
)

# key/value system metadata (internal/database/system_metadata.go:28-37)
SYSTEM_METADATA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("value", StringType(), True),
    ]
)

# raw ingest-side row (proto/hive.proto:17-23 wire chunk analog)
INGEST_FILES = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", StringType(), True),
        StructField("organization_id", StringType(), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)

# org branding assets (misc_handlers.go:70-94 logo endpoints — TODO
# stubs in the reference; implemented here as a binary-column table).
# n_bytes is persisted at upload so metadata listings never touch the
# binary column.
LOGOS = StructType(
    [
        StructField("organization_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("content", BinaryType(), True),
        StructField("content_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("uploaded_at", TimestampType(), True),
    ]
)

# HiveEngine.search rows (T1 hit: the chunk, its score and its tags
# joined with ","), ranked on the driver; nullability as Spark reads
# the chunks table back
SEARCH_HITS = StructType(
    [
        StructField("chunk_id", StringType(), True),
        StructField("document_id", StringType(), True),
        StructField("content", StringType(), True),
        StructField("chunk_index", IntegerType(), True),
        StructField("score", DoubleType(), True),
        StructField("tags_list", StringType(), False),
        StructField("organization_id", StringType(), True),
    ]
)

# HiveEngine.chat row (U7: context, citations, templated answer)
CHAT_REPLY = StructType(
    [
        StructField("context", StringType(), False),
        StructField("citations", ArrayType(CITATION, False), False),
        StructField("answer", StringType(), False),
    ]
)


def _required(schema: StructType, names: set[str]) -> StructType:
    """``schema`` with exactly the fields in ``names`` non-nullable."""
    return StructType(
        [StructField(f.name, f.dataType, f.name not in names) for f in schema.fields]
    )


# rule_matches rows HiveEngine.evaluate_rules (J3 single-doc) and
# evaluate_rules_cross_doc (J4) return, built on the driver; the
# literal columns are non-nullable, as in the Spark plans they replace
SINGLE_DOC_MATCHES = _required(RULE_MATCHES, {"matched_doc", "match_type", "ai_explanation"})
CROSS_DOC_MATCHES = _required(RULE_MATCHES, {"match_type", "ai_explanation", "organization_id"})

# HiveEngine.contradiction_candidates rows (J2: a new document, one of
# its top-k neighbors, their cosine and the both-alert flag)
CONTRADICTION_PAIRS = StructType(
    [
        StructField("source_doc_id", StringType(), True),
        StructField("target_doc_id", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("contradicts", BooleanType(), True),
    ]
)
