"""The Spark plans that driver-side code replaced, kept as the
references its results must equal: the analyst reactions, which now read
the chunk index (rows, scores with ``==``, and schema), and the key and
predicate probes of a table commit, which now read the live files with
pyarrow."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from the_hive_spark.engine import (
    _TABLE_SCHEMAS,
    ALERT_KEYWORD,
    CROSS_DOC_KEYWORDS,
    RULE_FALLBACK_KEYWORDS,
)
from the_hive_spark.operators.similarity import cosine


def _restrict(df: DataFrame, col: str, ids) -> DataFrame:
    if ids is None:
        return df
    if isinstance(ids, DataFrame):
        (id_col,) = ids.columns
        return df.join(ids.withColumnRenamed(id_col, col), on=col, how="left_semi")
    return df.filter(F.col(col).isin(ids))


def spark_rule_matches(eng, document_ids=None) -> DataFrame:
    """evaluate_rules' aggregate of the whole chunks table, semi-joined
    to the requested ids, crossed with the active rules."""
    docs = (
        eng.read_table("chunks")
        .groupBy("document_id", "organization_id")
        .agg(
            F.expr(
                "concat_ws('\\n\\n', transform("
                "array_sort(collect_list(struct(chunk_index, content))),"
                " s -> s.content))"
            ).alias("full_text")
        )
    )
    docs = _restrict(docs, "document_id", document_ids)
    kw_hits = [
        F.when(F.instr(F.lower("full_text"), kw) > 0, F.lit(kw))
        for kw in RULE_FALLBACK_KEYWORDS
    ]
    rules = eng.active_rules().select(
        F.col("id").alias("rule_id"), F.col("query").alias("rule_query")
    )
    return (
        docs.crossJoin(F.broadcast(rules))
        .withColumn("matched_kws", F.array_compact(F.array(*kw_hits)))
        .filter(F.size("matched_kws") > 0)
        .select(
            "rule_id",
            "rule_query",
            F.col("document_id").alias("uploaded_doc"),
            F.lit("").alias("matched_doc"),
            F.lit("single_doc").alias("match_type"),
            F.format_string(
                "YES: document contains keywords [%s]",
                F.concat_ws(",", "matched_kws"),
            ).alias("ai_explanation"),
            "organization_id",
        )
    )


def _first_chunks(eng) -> DataFrame:
    return eng.read_table("chunks").filter(F.col("chunk_index") == 0)


def spark_contradiction_batch(eng, new_doc_ids, top_k: int = 5) -> DataFrame:
    """contradiction_candidates' exact batch plan: the batch's first
    chunks broadcast against one pass over every first chunk
    (a BroadcastNestedLoopJoin), ranked per source by a window."""
    doc_vecs = _first_chunks(eng).select(
        "document_id",
        "embedding",
        (F.instr(F.upper("content"), ALERT_KEYWORD) > 0).alias("_alert"),
    )
    q = _restrict(doc_vecs, "document_id", new_doc_ids).select(
        F.col("document_id").alias("source_doc_id"),
        F.col("embedding").alias("qvec"),
        F.col("_alert").alias("_alert_a"),
    )
    scored = (
        doc_vecs.select(
            F.col("document_id").alias("target_doc_id"),
            "embedding",
            F.col("_alert").alias("_alert_b"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("source_doc_id") != F.col("target_doc_id"))
        .withColumn("score", cosine("qvec", "embedding"))
    )
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


def spark_cross_doc_matches(eng, document_ids=None, top_k: int = 10) -> DataFrame:
    """evaluate_rules_cross_doc's plan: an all-pairs self-join of every
    first chunk, ranked per source, restricted to the requested
    sources, crossed with the cross-doc rules."""
    doc_vecs = _first_chunks(eng).select("document_id", "embedding", "content")
    a, b = doc_vecs.alias("a"), doc_vecs.alias("b")
    pairs = a.join(
        b, F.col("a.document_id") != F.col("b.document_id")
    ).withColumn("score", cosine("a.embedding", "b.embedding"))
    w = Window.partitionBy("a.document_id").orderBy(
        F.desc("score"), F.asc("b.document_id")
    )
    pairs = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(
            F.col("a.document_id").alias("source_doc_id"),
            F.col("b.document_id").alias("target_doc_id"),
            F.col("a.content").alias("src_content"),
            F.col("b.content").alias("dst_content"),
        )
    )
    pairs = _restrict(pairs, "source_doc_id", document_ids)
    is_cross = F.lit(False)
    for kw in CROSS_DOC_KEYWORDS:
        is_cross = is_cross | (F.instr(F.lower("query"), kw) > 0)
    cross_rules = eng.active_rules().filter(is_cross).select(
        F.col("id").alias("rule_id"), F.col("query").alias("rule_query")
    )
    kw_hit_both = F.lit(False)
    for kw in RULE_FALLBACK_KEYWORDS:
        kw_hit_both = kw_hit_both | (
            (F.instr(F.lower("src_content"), kw) > 0)
            & (F.instr(F.lower("dst_content"), kw) > 0)
        )
    return (
        pairs.crossJoin(F.broadcast(cross_rules))
        .filter(kw_hit_both)
        .select(
            "rule_id",
            "rule_query",
            F.col("source_doc_id").alias("uploaded_doc"),
            F.col("target_doc_id").alias("matched_doc"),
            F.lit("cross_doc").alias("match_type"),
            F.lit("YES: both documents contain rule keywords").alias("ai_explanation"),
            F.lit("").alias("organization_id"),
        )
    )


def spark_key_hits(eng, name: str, files: list[str], keys):
    """``HiveEngine._probe`` of a table of keys as a Spark plan, the
    probe a key-scoped commit ran before: a left semi join of the live
    files to the keys counts each file's hits, and a left anti join of
    the files that keep some rows gives those rows."""
    if not files:
        return {}, []
    cols = keys.column_names
    add = eng.spark.createDataFrame(keys)
    live = eng._scan(name, files).withColumn("_file", F.col("_metadata.file_name"))
    by_name = dict(live.join(add, cols, "left_semi").groupBy("_file").count().collect())
    hits = {
        f: by_name[os.path.basename(f)] for f in files if os.path.basename(f) in by_name
    }
    rewrite = [
        f for f, n in hits.items()
        if pq.read_metadata(os.path.join(eng._path(name), f)).num_rows > n
    ]
    if not rewrite:
        return hits, []
    kept = eng._scan(name, rewrite).join(add, cols, "left_anti")
    return hits, [kept.select(*_TABLE_SCHEMAS[name].fieldNames()).toArrow()]


def spark_predicate_hits(eng, name: str, files: list[str], drop):
    """``HiveEngine._probe`` of a predicate as the Spark plan a predicate
    commit ran before: ``drop`` is the Spark ``Column`` (a null result
    drops nothing), a ``groupBy`` of the matching rows by
    ``_metadata.file_name`` counts each file's hits, and the files that
    keep some rows give them filtered by its negation."""
    if not files:
        return {}, []
    drop = F.coalesce(drop, F.lit(False))
    live = eng._scan(name, files)
    by_name = dict(live.filter(drop).groupBy(F.col("_metadata.file_name")).count().collect())
    hits = {
        f: by_name[os.path.basename(f)] for f in files if os.path.basename(f) in by_name
    }
    rewrite = [
        f for f, n in hits.items()
        if pq.read_metadata(os.path.join(eng._path(name), f)).num_rows > n
    ]
    if not rewrite:
        return hits, []
    kept = eng._scan(name, rewrite).filter(~drop)
    return hits, [kept.select(*_TABLE_SCHEMAS[name].fieldNames()).toArrow()]
