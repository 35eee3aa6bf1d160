"""Gopher-style corpus repetition filters and sketch-based cardinality.

Training-data quality gates beyond the per-document ratios in
``operators/text_analysis.py::doc_quality_score``: the *repetition*
family of signals (Rae et al., "Scaling Language Models: ...Gopher",
arXiv:2112.11446 §A1.1 — duplicate-word fraction, most-common-word
fraction, duplicate-n-gram fraction) used to drop boilerplate and
degenerate machine-generated text, plus an HLL-sketch distinct-count
self-evaluation — the O(1)-memory cardinality path a 100 TB pipeline
uses instead of exact COUNT(DISTINCT)'s full shuffle.

All ratio arithmetic is integer ppm (floor(1e6*x + 0.5)) so the DuckDB
oracle hash-matches bit-for-bit — no IEEE division in compared columns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from the_hive_spark.registry import ORACLES, query
from the_hive_spark.tables import table

# Whitespace word array, empties dropped (same tokenization as
# doc_token_stats so the signals compose).
_WORDS = "filter(split(text, ' '), t -> length(t) > 0)"
# 1-indexed bigram strings "w[i] w[i+1]"; empty array for 1-word docs.
_BIGRAMS = (
    "transform(sequence(1, size(words) - 1),"
    " i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))"
)


@query(
    "doc_repetition_ratio",
    oracle="""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), arr AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(list_distinct(words)) AS n_uniq_words,
         list_transform(range(1, len(words)),
                        i -> words[i] || ' ' || words[i + 1]) AS bigrams
  FROM base WHERE len(words) > 0
), w AS (
  SELECT doc_id, unnest(words) AS word FROM base
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
), top AS (
  SELECT doc_id, MAX(c) AS top_word_cnt FROM wc GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(FLOOR(1000000.0 * (a.n_words - a.n_uniq_words) / a.n_words + 0.5) AS BIGINT)
         AS dup_word_ppm,
       CAST(FLOOR(1000000.0 * t.top_word_cnt / a.n_words + 0.5) AS BIGINT)
         AS top_word_ppm,
       CAST(FLOOR(1000000.0 * (len(a.bigrams) - len(list_distinct(a.bigrams)))
                  / greatest(len(a.bigrams), 1) + 0.5) AS BIGINT)
         AS dup_bigram_ppm,
       (1000000.0 * (a.n_words - a.n_uniq_words) / a.n_words < 700000
        AND 1000000.0 * t.top_word_cnt / a.n_words < 200000
        AND 1000000.0 * (len(a.bigrams) - len(list_distinct(a.bigrams)))
            / greatest(len(a.bigrams), 1) < 800000) AS passes_repetition
FROM arr a JOIN top t ON a.doc_id = t.doc_id
""",
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals per document: duplicate-word fraction,
    most-common-word fraction, duplicate-bigram fraction (all ppm), and
    the composite keep/drop flag.

    Plan shape: duplicate-word and duplicate-bigram fractions are
    in-row array expressions (``array_distinct`` on the words/bigrams
    arrays — zero shuffle); only the most-common-word count needs a
    (doc_id, word) explode, which is two map-side-combined aggregations
    on the same key, then a single doc_id-keyed join back. At 100 TB
    the explode stream shuffles once on (doc_id, word) and the join is
    co-partitioned on doc_id — no broadcast of anything corpus-sized.
    Thresholds are the Gopher §A1.1 bands adapted to whitespace words
    (<0.70 dup-word, <0.20 top-word, <0.80 dup-bigram).

    Materialized once per corpus snapshot (matstore): the repetition
    gate is read by this report and the curation funnel.
    """
    from the_hive_spark.functions.matstore import materialized

    return materialized(
        spark,
        ("doc_repetition_ratio", sf_dir),
        lambda: _repetition_ratio_build(spark, sf_dir),
    )


def _repetition_ratio_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One explicit doc_id repartition feeds the whole DAG: the word
    # explode runs at cluster parallelism (fan-out stage convention),
    # and hash-on-doc_id satisfies ClusteredDistribution for the
    # (doc_id, word) agg, the doc_id agg, AND both join sides — so no
    # further exchange anywhere downstream.
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") > 0)
        .repartition(n, "doc_id")
    )
    arr = base.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.size(F.array_distinct("words")).alias("n_uniq_words"),
        F.expr(_BIGRAMS).alias("bigrams"),
    ).select(
        "doc_id",
        "n_words",
        "n_uniq_words",
        F.size("bigrams").alias("n_bigrams"),
        F.size(F.array_distinct("bigrams")).alias("n_uniq_bigrams"),
    )
    top = (
        base.select("doc_id", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_cnt"))
    )
    j = arr.join(top, "doc_id")
    nb = F.greatest(F.col("n_bigrams"), F.lit(1))
    dup_word = 1000000.0 * (F.col("n_words") - F.col("n_uniq_words")) / F.col("n_words")
    top_word = 1000000.0 * F.col("top_word_cnt") / F.col("n_words")
    dup_bigram = 1000000.0 * (F.col("n_bigrams") - F.col("n_uniq_bigrams")) / nb
    return j.select(
        "doc_id",
        F.floor(dup_word + F.lit(0.5)).cast("bigint").alias("dup_word_ppm"),
        F.floor(top_word + F.lit(0.5)).cast("bigint").alias("top_word_ppm"),
        F.floor(dup_bigram + F.lit(0.5)).cast("bigint").alias("dup_bigram_ppm"),
        (
            (dup_word < 700000) & (top_word < 200000) & (dup_bigram < 800000)
        ).alias("passes_repetition"),
    )


DECON_N = 4  # words per shingle; benchmark-overlap shingles
DECON_EVAL_MOD = 50  # doc_id % 50 == 0 stands in for the eval set


@query(
    "doc_decontaminate",
    oracle=f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - {DECON_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {DECON_N - 1}), ' ')))) AS gram
  FROM w WHERE len(words) >= {DECON_N}
), eval_g AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_EVAL_MOD} = 0
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM g JOIN eval_g USING (gram)
WHERE g.doc_id % {DECON_EVAL_MOD} != 0
GROUP BY g.doc_id
""",
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: flag training documents that
    share any word {DECON_N}-gram with the held-out eval/benchmark set
    (here: every doc_id divisible by {DECON_EVAL_MOD}), returning the
    count of distinct shared shingles per contaminated doc — the
    C4/GPT-3-style n-gram overlap filter run before shipping a corpus.

    Plan shape for 100 TB: the eval side is small by construction
    (benchmarks are MBs against a TB-scale corpus), so its distinct
    shingle set BROADCASTS and the train side is one explode + hash
    join + per-doc count — a single shuffle on doc_id, no corpus-sized
    state. The per-doc shingle arrays are deduped in-row
    (array_distinct) before the explode so the join stream carries no
    within-doc repeats.
    """
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= DECON_N)
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {DECON_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {DECON_N})))"
                )
            )
        ).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("gram")
        .distinct()
    )
    return (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_grams"))
    )


@query("events_approx_value_percentiles")  # no oracle: quantile
# sketches are engine-specific by construction; self-evaluated against
# Spark's exact percentile on the same scan (emb_ann_recall pattern).
def events_approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles per event type: ``percentile_approx``
    (Greenwald-Khanna, accuracy 10000) for p50/p90/p99 next to the
    exact percentiles, with the worst relative error and a ±1%
    acceptance flag.

    The scale rationale mirrors events_approx_user_count: exact
    percentiles need the full value set per group (sort or
    memory-resident aggregation buffer); the GK sketch is bounded
    O(1/ε) state merged map-side — the only form that survives a
    100 TB group-by. Values are emitted in integer milli-units so
    reruns hash stably. The exact-percentile columns double as the
    self-check at bench SF.
    """
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("approx"),
        F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("exact"),
    )
    milli = lambda c: F.floor(c * 1000 + F.lit(0.5)).cast("bigint")  # noqa: E731
    err = F.expr(
        "aggregate(zip_with(approx, exact,"
        " (a, e) -> abs(a - e) / greatest(abs(e), 1e-9)),"
        " 0D, (acc, v) -> greatest(acc, v))"
    )
    return agg.select(
        "event_type",
        milli(F.element_at("approx", 1)).alias("p50_milli"),
        milli(F.element_at("approx", 2)).alias("p90_milli"),
        milli(F.element_at("approx", 3)).alias("p99_milli"),
        milli(F.element_at("exact", 1)).alias("p50_exact_milli"),
        milli(F.element_at("exact", 2)).alias("p90_exact_milli"),
        milli(F.element_at("exact", 3)).alias("p99_exact_milli"),
        F.floor(1000000.0 * err + F.lit(0.5)).cast("bigint").alias("max_err_ppm"),
        (err <= 0.01).alias("within_1pct"),
    ).orderBy("event_type")


@query("events_approx_user_count")  # no oracle: HLL sketches are
# engine-specific by construction; verified as a self-evaluation
# against the exact count instead (same pattern as emb_ann_recall).
def events_approx_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct users per event type: HyperLogLog++
    (``approx_count_distinct``, rsd 2%) next to the exact count, with
    the observed relative error and a ±5% acceptance flag.

    Why it exists: at 100 TB, exact COUNT(DISTINCT user_id) shuffles
    every (type, user) pair; the HLL sketch is a few KB per group,
    merged map-side — the only scalable form. The exact column here is
    the self-check (affordable at bench SF), asserting the sketch's
    configured error bound actually holds on this corpus. Spark's HLL
    implementation is deterministic, so rows are stable run-to-run.
    """
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    err_ppm = F.floor(
        1000000.0
        * F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
        + F.lit(0.5)
    ).cast("bigint")
    return agg.select(
        "event_type",
        "approx_users",
        "exact_users",
        err_ppm.alias("abs_err_ppm"),
        (err_ppm <= 50000).alias("within_5pct"),
    ).orderBy("event_type")


def _lang_mismatch_oracle() -> str:
    from the_hive_spark.operators.text_analysis import _langid_oracle

    return f"""
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN det.detected_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_undetermined,
       CAST(SUM(CASE WHEN det.detected_lang != 'und'
                      AND det.detected_lang != d.lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       CAST(FLOOR(1000000.0 * SUM(CASE WHEN det.detected_lang != 'und'
                      AND det.detected_lang != d.lang THEN 1 ELSE 0 END)
                  / COUNT(*) + 0.5) AS BIGINT) AS mismatch_ppm
FROM ({_langid_oracle()}) det
JOIN documents d ON d.doc_id = det.doc_id
GROUP BY d.source
"""


@query("doc_lang_mismatch", oracle=_lang_mismatch_oracle())
def doc_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-label audit per source: how often the n-gram language
    detector confidently disagrees with the declared ``lang`` column
    (plus the undetermined count) — the mislabeled-language report a
    curation pipeline runs before per-language filtering, since a feed
    with a high mismatch rate poisons every lang-conditional stage
    downstream. Reads the materialized doc_langid table (one doc_id
    join against the source/lang projection) instead of re-running the
    detector expression; the only corpus shuffle is that join, then a
    tiny per-source aggregation.
    """
    from the_hive_spark.operators.text_analysis import doc_langid

    det = doc_langid(spark, sf_dir).withColumnRenamed(
        "detected_lang", "det"
    )
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source")
        .join(det, "doc_id")
    )
    confident_mismatch = (
        (F.col("det") != "und") & (F.col("det") != F.col("lang"))
    ).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("det") == "und").cast("long")).cast("bigint").alias(
            "n_undetermined"
        ),
        F.sum(confident_mismatch).cast("bigint").alias("n_mismatch"),
        F.floor(
            1000000.0 * F.sum(confident_mismatch) / F.count(F.lit(1))
            + F.lit(0.5)
        ).cast("bigint").alias("mismatch_ppm"),
    )


BPE_PAIR_TOPK = 20


@query(
    "doc_bpe_pair_counts",
    oracle=f"""
WITH pairs AS (
  SELECT unnest(list_transform(range(1, length(text)),
                i -> substring(text, i, 2))) AS pair
  FROM documents WHERE length(text) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_PAIR_TOPK}
""",
)
def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent symbol-pair counts, top {BPE_PAIR_TOPK} —
    one BPE merge iteration's candidate table, the inner loop of
    training a tokenizer vocabulary over the corpus (each merge round
    at scale IS this query over the re-segmented text).

    Plan: in-row pair array (transform over sequence — no Python, no
    self-join of the text against itself shifted by one), repartition
    before the explode so the fan-out runs at cluster parallelism,
    then one map-side-combined count and TakeOrdered for the top-k —
    the (pair) key space is tiny (alphabet²), so the final shuffle
    carries almost nothing.
    """
    n = spark.sparkContext.defaultParallelism
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .repartition(n)
    )
    pairs = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_PAIR_TOPK)
    )


@query(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), t AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY from_type, to_type
), tot AS (
  SELECT from_type, SUM(n) AS n_from FROM t GROUP BY from_type
)
SELECT t.from_type, t.to_type,
       CAST(t.n AS BIGINT) AS n,
       CAST(FLOOR(1000000.0 * t.n / tot.n_from + 0.5) AS BIGINT) AS p_ppm
FROM t JOIN tot USING (from_type)
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and probabilities (ppm) of each consecutive
    event-type pair — the behavioral-model prior (next-action
    prediction, anomaly scoring against expected transitions,
    synthetic-sequence generation).

    One shuffle on user_id for the LEAD window; the transition counts
    map-side combine into a |types|² key space, and the row-conditional
    probabilities divide by a broadcast-sized per-from total — nothing
    downstream of the window touches corpus-scale data again.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.floor(1000000.0 * F.col("n") / F.col("n_from") + F.lit(0.5))
            .cast("bigint")
            .alias("p_ppm"),
        )
    )


COVER_N = 4  # words per gram, matching doc_decontaminate's shingles


@query(
    "doc_dup_gram_coverage",
    oracle=f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - {COVER_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {COVER_N - 1}), ' ')))) AS gram
  FROM w WHERE len(words) >= {COVER_N}
), df AS (
  SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams,
       CAST(FLOOR(1000000.0 * SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END)
                  / COUNT(*) + 0.5) AS BIGINT) AS dup_coverage_ppm,
       (1000000.0 * SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) / COUNT(*)
          < 500000) AS passes_dup_coverage
FROM g JOIN df USING (gram)
GROUP BY g.doc_id
""",
)
def doc_dup_gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-text coverage per doc: the fraction
    of a document's distinct word {COVER_N}-grams that also occur in
    at least one OTHER document (ppm), plus a <50% keep flag — the
    ExactSubstr-style readout (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): MinHash
    clustering catches whole-document near-dups, while this catches
    documents assembled from text duplicated piecemeal across the
    corpus (boilerplate, quotations, template farms).

    Plan: in-row distinct gram arrays → repartitioned explode → one
    (gram) document-frequency aggregation → join back on gram
    (co-partitioned with the df agg — no extra exchange) → per-doc
    count. Two corpus-stream shuffles total, both map-side combined;
    no all-pairs comparison anywhere. A doc's gram counted in its OWN
    occurrences only once (in-row array_distinct), so df ≥ 2 means
    "appears in ≥2 distinct documents".
    """
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= COVER_N)
        .repartition(n, "doc_id")
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {COVER_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {COVER_N})))"
                )
            )
        ).alias("gram"),
    )
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    shared = (F.col("n_docs") >= 2).cast("long")
    cov = 1000000.0 * F.sum(shared) / F.count(F.lit(1))
    return (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(shared).cast("bigint").alias("n_shared_grams"),
            F.floor(cov + F.lit(0.5)).cast("bigint").alias("dup_coverage_ppm"),
            (cov < 500000).alias("passes_dup_coverage"),
        )
    )


HH_CAPACITY = 4096  # Misra-Gries counters per partition summary
HH_K = 2048  # report items with frequency > n/HH_K (2× safety margin)


@query(
    "events_heavy_hitters",
    oracle=f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(FLOOR(1000000.0 * COUNT(*)
                  / (SELECT COUNT(*) FROM events) + 0.5) AS BIGINT) AS share_ppm
FROM events
GROUP BY user_id
HAVING COUNT(*) * {HH_K} > (SELECT COUNT(*) FROM events)
""",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy hitters (φ = 1/{HH_K}) over event actors via the
    two-phase sketch plan: per-partition Misra-Gries summaries with
    {HH_CAPACITY} counters generate a candidate superset, then one
    exact recount of candidates only — the hot-key detector (abuse
    actors, runaway clients, cache-key design) that never shuffles the
    full (user) key space.

    Why two phases: a plain GROUP BY user_id shuffles every distinct
    key; at 100 TB with billions of actors that is the whole job. The
    MG summary is O(capacity) memory per partition regardless of
    partition cardinality, and the merge guarantee (Agarwal et al.,
    "Mergeable Summaries", PODS'12) ensures any item with global
    frequency > n/capacity survives some partition's summary — so with
    capacity = 2·HH_K the candidate set provably contains every
    φ-frequent item, and the exact recount (a broadcast semi-join +
    count over candidates only) makes the final answer EXACT, not
    approximate. The oracle is the plain GROUP BY ... HAVING — parity
    proves the pruning is lossless. Per-partition summaries build from
    Arrow-batch value_counts merged under the MG compress (subtract
    the (cap+1)-th count, drop non-positive) — no per-row Python.
    """
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    total = ev.count()  # single-scalar job, like engine.py's stats

    def mg_candidates(batches):
        counts: pd.Series = None
        for pdf in batches:
            bc = pdf["user_id"].value_counts()
            counts = bc if counts is None else counts.add(bc, fill_value=0)
            if len(counts) > HH_CAPACITY:
                # mergeable-summaries compress: subtract the
                # (capacity+1)-th largest count, keep positives
                t = counts.nlargest(HH_CAPACITY + 1).iloc[-1]
                counts = counts[counts > t].sub(t)
        if counts is None or counts.empty:
            return
        yield pd.DataFrame({"user_id": counts.index.to_numpy()})

    cand = (
        ev.select("user_id")
        .mapInPandas(mg_candidates, "user_id long")
        .distinct()
    )
    return (
        ev.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * HH_K > total)
        .select(
            "user_id",
            F.col("c").cast("bigint").alias("n_events"),
            F.floor(1000000.0 * F.col("c") / F.lit(total) + F.lit(0.5))
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


def _curation_funnel_oracle() -> str:
    from the_hive_spark.operators.dedup import _DUP_CLUSTERS_CTE
    from the_hive_spark.operators.text_analysis import _langid_oracle

    rep_oracle = ORACLES["doc_repetition_ratio"]
    return (
        _DUP_CLUSTERS_CTE
        + f"""
, det AS (SELECT doc_id, detected_lang FROM ({_langid_oracle()}))
, qm AS (
  SELECT doc_id, length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_tokens
  FROM documents
), q AS (
  SELECT doc_id,
         (n_chars >= 50 AND n_tokens >= 10
          AND (n_chars - n_tokens + 1.0) / greatest(n_tokens, 1) BETWEEN 2 AND 12)
           AS pq
  FROM qm
), rep AS (SELECT doc_id, passes_repetition FROM ({rep_oracle}))
, f AS (
  SELECT d.doc_id, md5(d.text) AS h, cl.cluster_id,
         (length(d.text) > 0) AS s2,
         (length(d.text) > 0 AND COALESCE(q.pq, FALSE)) AS s3,
         (length(d.text) > 0 AND COALESCE(q.pq, FALSE)
          AND COALESCE(rep.passes_repetition, FALSE)) AS s4,
         (length(d.text) > 0 AND COALESCE(q.pq, FALSE)
          AND COALESCE(rep.passes_repetition, FALSE)
          AND COALESCE(det.detected_lang, 'und') != 'und'
          AND det.detected_lang = d.lang) AS s5
  FROM documents d
  LEFT JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN rep ON rep.doc_id = d.doc_id
  LEFT JOIN det ON det.doc_id = d.doc_id
  JOIN clusters cl ON cl.doc_id = d.doc_id
), e6 AS (
  SELECT *, s5 AND doc_id = MIN(CASE WHEN s5 THEN doc_id END)
                               OVER (PARTITION BY h) AS s6
  FROM f
), e7 AS (
  SELECT *, s6 AND doc_id = MIN(CASE WHEN s6 THEN doc_id END)
                               OVER (PARTITION BY cluster_id) AS s7
  FROM e6
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         CAST(SUM(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
         CAST(SUM(CASE WHEN s7 THEN 1 ELSE 0 END) AS BIGINT) AS c7
  FROM e7
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage_idx, 'all' AS stage, c1 AS n_docs, CAST(0 AS BIGINT) AS n_dropped FROM agg
  UNION ALL SELECT 2, 'nonempty', c2, c1 - c2 FROM agg
  UNION ALL SELECT 3, 'quality', c3, c2 - c3 FROM agg
  UNION ALL SELECT 4, 'repetition', c4, c3 - c4 FROM agg
  UNION ALL SELECT 5, 'lang_confident', c5, c4 - c5 FROM agg
  UNION ALL SELECT 6, 'exact_canonical', c6, c5 - c6 FROM agg
  UNION ALL SELECT 7, 'near_dup_canonical', c7, c6 - c7 FROM agg
)
"""
    )


@query("doc_curation_funnel", oracle=_curation_funnel_oracle())
def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: how many documents survive each
    gate of the shipping pipeline — nonempty → quality (length/token
    heuristics) → Gopher repetition → confident-language match →
    exact-dedup canonical → near-dup canonical — with per-stage drop
    counts. THE dashboard number for a corpus release: every curation
    paper reports exactly this attrition table, and a stage suddenly
    eating 40% of a feed is how pipeline regressions get caught.

    Canonicalization is re-derived among survivors (a canonical doc
    dropped by an earlier gate passes its crown to the lowest-id
    surviving duplicate) — window MIN over the digest / cluster
    partitions, both bounded by real duplicate multiplicity. Composes
    the registered gate operators (quality, repetition, langid,
    cluster labels via the materialization store) so every threshold
    stays single-source-of-truth; the funnel itself adds two bounded
    windows and one 7-row aggregate on top.
    """
    from pyspark.sql import Window

    from the_hive_spark.operators.dedup import doc_dup_clusters
    from the_hive_spark.operators.text_analysis import (
        doc_langid,
        doc_quality_score,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        (F.length("text") > 0).alias("s2"),
    )
    det = doc_langid(spark, sf_dir).withColumnRenamed("detected_lang", "det")
    q = doc_quality_score(spark, sf_dir).select("doc_id", "passes_quality")
    rep = doc_repetition_ratio(spark, sf_dir).select(
        "doc_id", "passes_repetition"
    )
    clusters = doc_dup_clusters(spark, sf_dir)
    f = (
        docs.join(det, "doc_id")
        .join(q, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(clusters, "doc_id")
        .select(
            "doc_id",
            "h",
            "cluster_id",
            "s2",
            (F.col("s2") & F.coalesce("passes_quality", F.lit(False))).alias(
                "s3"
            ),
            (
                F.col("s2")
                & F.coalesce("passes_quality", F.lit(False))
                & F.coalesce("passes_repetition", F.lit(False))
            ).alias("s4"),
            (
                F.col("s2")
                & F.coalesce("passes_quality", F.lit(False))
                & F.coalesce("passes_repetition", F.lit(False))
                & (F.col("det") != "und")
                & (F.col("det") == F.col("lang"))
            ).alias("s5"),
        )
    )
    wh = Window.partitionBy("h")
    f = f.withColumn(
        "s6",
        F.col("s5")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("s5"), F.col("doc_id"))).over(wh)
        ),
    )
    wc = Window.partitionBy("cluster_id")
    f = f.withColumn(
        "s7",
        F.col("s6")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("s6"), F.col("doc_id"))).over(wc)
        ),
    )
    b = lambda c: F.sum(F.col(c).cast("long"))  # noqa: E731
    agg = f.agg(
        F.count(F.lit(1)).alias("c1"),
        b("s2").alias("c2"),
        b("s3").alias("c3"),
        b("s4").alias("c4"),
        b("s5").alias("c5"),
        b("s6").alias("c6"),
        b("s7").alias("c7"),
    )
    stages = [
        ("all", "c1", None),
        ("nonempty", "c2", "c1"),
        ("quality", "c3", "c2"),
        ("repetition", "c4", "c3"),
        ("lang_confident", "c5", "c4"),
        ("exact_canonical", "c6", "c5"),
        ("near_dup_canonical", "c7", "c6"),
    ]
    stack_args = []
    for i, (name, cur, prev) in enumerate(stages, start=1):
        dropped = "0L" if prev is None else f"{prev} - {cur}"
        stack_args.append(f"{i}L, '{name}', {cur}, {dropped}")
    return agg.select(
        F.expr(
            f"stack({len(stages)}, {', '.join(stack_args)})"
            " AS (stage_idx, stage, n_docs, n_dropped)"
        )
    ).select(
        F.col("stage_idx").cast("bigint"),
        "stage",
        F.col("n_docs").cast("bigint"),
        F.col("n_dropped").cast("bigint"),
    )


WINNOW_K = 8  # character k-gram width
WINNOW_W = 4  # winnowing window (hashes per window)

# Portable 31-polynomial rolling-hash image shared with doc_simhash:
# fold acc -> (acc*31 + ascii) mod 1e9+7 over each k-gram.
_WINNOW_HASHES_SPARK = (
    f"transform(sequence(1, length(text) - {WINNOW_K - 1}),"
    f" i -> aggregate(sequence(i, i + {WINNOW_K - 1}), 0L,"
    " (acc, j) -> pmod(acc * 31 + ascii(substring(text, j, 1)), 1000000007)))"
)
_WINNOW_HASHES_DUCK = (
    f"list_transform(range(1, length(text) - {WINNOW_K - 2}),"
    " i -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
    f" list_transform(range(i, i + {WINNOW_K}),"
    " j -> CAST(ascii(substring(text, j, 1)) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 1000000007))"
)


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
WITH h AS (
  SELECT doc_id, {_WINNOW_HASHES_DUCK} AS hs
  FROM documents WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
), sel AS (
  SELECT doc_id, len(hs) AS n_grams,
         list_sort(list_distinct(list_transform(
           range(1, len(hs) - {WINNOW_W - 2}),
           i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1}))))) AS fp
  FROM h
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(fp) AS BIGINT) AS n_selected,
       md5(array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), ','))
         AS fingerprint_md5
FROM sel
""",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash every {WINNOW_K}-char gram
    with the portable rolling hash, then keep the minimum hash of each
    {WINNOW_W}-hash window. The selected set is ~2/(w+1) of all grams
    yet GUARANTEES any shared substring of length ≥ k + w − 1 shares a
    selected fingerprint — the bounded-size signature that replaces
    full n-gram sets for plagiarism / near-dup detection when storing
    every shingle of 100 TB is off the table.

    Entirely in-row expression work (hash array → window minima →
    distinct → digest): a linear scan with ZERO shuffles, emitting one
    fixed-size row per doc. Downstream, the fingerprint stream plugs
    into the same df≥2 / band-join machinery as full shingles
    (doc_dup_gram_coverage, doc_ngram_jaccard_pairs) at a (w+1)/2
    storage reduction. The digest column asserts the exact selected
    set cross-engine, not just its size.
    """
    # repartition before the hash expression (fan-out stage
    # convention): the per-gram rolling-hash fold is the CPU cost of
    # this query, and the input arrives as however few splits the file
    # layout gives — one row group here would otherwise serialize the
    # whole scan onto a single task (measured 16 s -> ~1 s at sf0.1)
    n = spark.sparkContext.defaultParallelism
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= WINNOW_K + WINNOW_W - 1)
        .repartition(n)
    )
    h = docs.select("doc_id", F.expr(_WINNOW_HASHES_SPARK).alias("hs"))
    sel = h.select(
        "doc_id",
        F.size("hs").alias("n_grams"),
        F.sort_array(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(hs) - {WINNOW_W - 1}),"
                    f" i -> array_min(slice(hs, i, {WINNOW_W})))"
                )
            )
        ).alias("fp"),
    )
    return sel.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.size("fp").cast("bigint").alias("n_selected"),
        F.md5(
            F.expr("array_join(transform(fp, x -> cast(x AS string)), ',')")
        ).alias("fingerprint_md5"),
    )


@query(
    "doc_drift_ks_by_source",
    oracle="""
WITH d AS (
  SELECT source, n_chars AS v FROM documents
), tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM d GROUP BY source
), alltot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM d
), grid AS (
  SELECT DISTINCT v FROM d
), pv AS (
  SELECT source, v, COUNT(*) AS c FROM d GROUP BY source, v
), av AS (
  SELECT v, COUNT(*) AS c FROM d GROUP BY v
), cuma AS (
  SELECT v, SUM(c) OVER (ORDER BY v) AS cum_all FROM av
), filled AS (
  SELECT g.v, s.source, COALESCE(pv.c, 0) AS c
  FROM grid g
  CROSS JOIN (SELECT DISTINCT source FROM d) s
  LEFT JOIN pv ON pv.source = s.source AND pv.v = g.v
), cums AS (
  SELECT source, v, SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum_s
  FROM filled
)
SELECT c.source, t.n_s,
       CAST(FLOOR(1000000.0 * MAX(ABS(c.cum_s * a.n_all - ca.cum_all * t.n_s))
                  / (t.n_s * ANY_VALUE(a.n_all)) + 0.5) AS BIGINT) AS ks_ppm
FROM cums c
JOIN cuma ca ON ca.v = c.v
JOIN tot t ON t.source = c.source
CROSS JOIN alltot a
GROUP BY c.source, t.n_s
""",
)
def doc_drift_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the exact two-sample Kolmogorov-
    Smirnov statistic of each source's document-length distribution
    against the whole corpus (ppm) — the alarm a curation pipeline
    keeps on every feed, because a source whose length/quality
    distribution shifts (scraper broke, boilerplate change, injection)
    poisons mixture weights long before any single gate trips.

    Exact and engine-stable: ECDFs compare as cross-multiplied integer
    counts (|cum_s·n_all − cum_all·n_s|), no float CDFs. int64
    headroom: products are ≤ n_s·n_all < 2⁶³, exact to ~3·10⁹ docs
    balanced-source (≈sf 10⁵); beyond, ANSI fails loud — the fix then
    is decimal(38,0) on BOTH engines, value-identical
    (tests/test_overflow_bounds.py pins the form at the bound). The value
    grid is the corpus's distinct lengths — bounded here; at 100 TB
    the same query runs on a fixed histogram grid (bin the value
    column first), which bounds the window state and changes nothing
    else in the plan. Shape: two map-side-combined counts, cumulative
    windows over the (tiny) grid, one broadcast of the source list.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    n_all = d.count()  # single-scalar job
    grid = d.select("v").distinct()
    pv = d.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    av = d.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # corpus-wide ECDF via the range-partitioned prefix sum — the bare
    # SUM() OVER (ORDER BY v) would funnel the whole grid through one
    # task; v is unique after the groupBy, so the distributed form is
    # rank-exact and the oracle hash unchanged
    from the_hive_spark.functions.ids import distributed_prefix_sum

    cuma = distributed_prefix_sum(av, "v", "c", out_col="_prev").select(
        "v", (F.col("_prev") + F.col("c")).alias("cum_all")
    )
    sources = d.select("source").distinct()
    filled = (
        grid.crossJoin(F.broadcast(sources))
        .join(pv, ["source", "v"], "left")
        .select("source", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    cums = filled.select(
        "source",
        "v",
        F.sum("c").over(
            Window.partitionBy("source").orderBy("v").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum_s"),
    )
    j = cums.join(cuma, "v").join(F.broadcast(tot), "source")
    diff = F.abs(
        F.col("cum_s") * F.lit(n_all) - F.col("cum_all") * F.col("n_s")
    )
    return j.groupBy("source", "n_s").agg(
        F.floor(
            1000000.0 * F.max(diff) / (F.col("n_s") * F.lit(n_all))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ks_ppm")
    )


TFIDF_TOPK = 5


@query(
    "doc_tfidf_topk",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
  FROM documents WHERE length(text) > 0
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY term
), n AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM w
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(FLOOR(1000.0 * tf.tf * n.n_docs / df.df + 0.5) AS BIGINT) AS tfidf_milli
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf_milli
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_milli DESC, term) AS rn
  FROM scored
) WHERE rn <= {TFIDF_TOPK}
""",
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF terms per document — the query-free
    keyword extractor (tag suggestion, index pruning, topic drift
    spot-checks) that complements the query-directed BM25 ranker.
    Weight = tf · N/df in integer milli-units: a single per-row IEEE
    division is bit-deterministic cross-engine (only multi-term float
    SUMS are order-dependent), so the ranking hashes stably.

    Plan: one (doc, term) explode feeds both the tf aggregation and
    the document-frequency aggregation; df per term is corpus-bounded
    (vocabulary-sized) and joins back on term; the per-doc top-k is a
    doc_id-partitioned window — bounded state, no corpus-wide sort.
    At 100 TB the df table is the only broadcast-sized artifact
    (vocabulary, not corpus).
    """
    from pyspark.sql import Window

    n = spark.sparkContext.defaultParallelism
    w = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.expr(_WORDS)).alias("term"))
        .repartition(n, "doc_id")
    )
    tf = w.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = w.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    # n_docs as an IN-PLAN broadcast scalar, not a driver-side
    # .count() (r11, guide §2.4): the separate count action could not
    # reuse the repartition exchange across jobs, so it re-ran the
    # whole tokenize/explode — one of the two corpus passes was
    # computing a single integer. Inside one plan all three consumers
    # (tf, df, n_docs) read the SAME exchange via ReusedExchange: the
    # corpus is tokenized exactly once.
    nd = w.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    # unhinted: df is vocabulary-sized (grows with the corpus) — the
    # scalable plan is a shuffle join on term; AQE broadcasts at toy sf
    scored = tf.join(df, "term").crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.floor(1000.0 * F.col("tf") * F.col("n_docs") / F.col("df") + F.lit(0.5))
        .cast("bigint")
        .alias("tfidf_milli"),
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_milli"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "tfidf_milli")
    )


@query(
    "events_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY day
), tot AS (
  SELECT SUM(n_events) AS t, SUM(n_errors) AS e FROM daily
), c AS (
  SELECT day, n_events, n_errors,
         CAST(SUM(n_errors * (SELECT t FROM tot) - n_events * (SELECT e FROM tot))
              OVER (ORDER BY day) AS BIGINT) AS cusum_num
  FROM daily
), mx AS (
  SELECT MIN(day) AS cp_day FROM c
  WHERE ABS(cusum_num) = (SELECT MAX(ABS(cusum_num)) FROM c)
)
SELECT c.day, c.n_events, c.n_errors, c.cusum_num,
       (c.day = (SELECT cp_day FROM mx)) AS is_changepoint
FROM c
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily error rate: cumulative
    sum of each day's deviation from the period's overall error
    fraction (cross-multiplied integers — err_d·T − tot_d·E — so no
    float rate ever enters the cumulative; int64-exact while
    max_day·T < 2⁶³ — ~3·10⁹ events on 10⁶-row days, ANSI fails loud
    beyond, see tests/test_overflow_bounds.py), with the |CUSUM|-maximizing
    day flagged as THE changepoint. Complements events_anomaly_daily:
    that flags pointwise outliers, this locates the regime shift
    (deploy that started failing, feed that silently degraded) even
    when no single day is individually extreme.

    Plan: one map-side-combined daily aggregation; the cumulative
    window and argmax run over the day grid (~30 rows here, bounded by
    the calendar at any corpus size) — the classic reduce-then-analyze
    shape where the heavy pass is the first aggregation.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("bigint")
        .alias("n_errors"),
    )
    tot = daily.agg(
        F.sum("n_events").alias("t"), F.sum("n_errors").alias("e")
    ).collect()[0]
    t_all, e_all = int(tot["t"]), int(tot["e"])
    c = daily.withColumn(
        "cusum_num",
        F.sum(
            F.col("n_errors") * F.lit(t_all) - F.col("n_events") * F.lit(e_all)
        ).over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cp = (
        c.select(F.abs("cusum_num").alias("a"), "day")
        .orderBy(F.desc("a"), F.asc("day"))
        .limit(1)
        .collect()[0]["day"]
    )
    return c.select(
        "day",
        "n_events",
        "n_errors",
        "cusum_num",
        (F.col("day") == F.lit(cp)).alias("is_changepoint"),
    )


LM_LOW_PPM = 200  # flag docs whose mean bigram frequency is below this


@query(
    "doc_lm_bigram_score",
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM base WHERE len(words) >= 2
), df AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY bigram
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bg
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(FLOOR(1000000.0 * SUM(df.c)
                  / (COUNT(*) * ANY_VALUE(tot.n_total)) + 0.5) AS BIGINT)
         AS lm_score_ppm,
       (1000000.0 * SUM(df.c) / (COUNT(*) * ANY_VALUE(tot.n_total))
          < {LM_LOW_PPM}) AS flagged_unnatural
FROM bg JOIN df USING (bigram) CROSS JOIN tot
GROUP BY bg.doc_id
""",
)
def doc_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency score per document: the mean corpus-relative
    frequency of the doc's word bigrams (ppm) — the integer-exact
    stand-in for the LM-perplexity quality filter (CCNet / Wenzek et
    al., arXiv:1911.00359, which ranks docs by KenLM perplexity):
    text whose bigrams are rare *in its own corpus* reads as
    unnatural — shuffled words, spam keyword lists, OCR noise — and
    gets flagged.

    Plan: in-row bigram arrays → one (bigram) count aggregation (the
    LM "training" pass — vocabulary², broadcastable) → join back on
    bigram, per-doc mean as SUM(count)/(n·total) with a single final
    IEEE division (bit-stable cross-engine). Two corpus-stream
    shuffles, both map-side combined — the same shape as TF-IDF, over
    bigram probabilities instead of term weights.
    """
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= 2)
        .repartition(n, "doc_id")
    )
    bg = base.select(
        "doc_id", F.explode(F.expr(_BIGRAMS)).alias("bigram")
    )
    df = bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # n_total as an in-plan broadcast scalar (r11, guide §2.4): the
    # old driver-side bg.count() was a separate action, so it re-ran
    # the whole tokenize pipeline to produce one integer; in-plan it
    # shares the doc_id repartition exchange with the other consumers.
    nt = bg.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    score = 1000000.0 * F.sum("c") / (F.count(F.lit(1)) * F.first("n_total"))
    return (
        bg.join(df, "bigram")
        .crossJoin(F.broadcast(nt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.floor(score + F.lit(0.5)).cast("bigint").alias("lm_score_ppm"),
            (score < LM_LOW_PPM).alias("flagged_unnatural"),
        )
    )


def _modality_agreement_oracle() -> str:
    # Import the owning modules first: this builder runs at decoration
    # time, and reading ORACLES for queries another module registers
    # must not depend on registry.load_all's import order (direct
    # `import corpus_quality` from tests/tooling has to work too).
    from the_hive_spark.operators import dedup, similarity  # noqa: F401

    text_sql = ORACLES["doc_ngram_jaccard_pairs"]
    emb_sql = ORACLES["emb_near_dup_pairs"]
    return f"""
WITH tp AS (
  SELECT doc_a, doc_b FROM ({text_sql}) t
  WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = t.doc_a)
    AND EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = t.doc_b)
), ep AS (
  SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({emb_sql})
), b AS (
  SELECT doc_a, doc_b FROM tp INTERSECT SELECT doc_a, doc_b FROM ep
)
SELECT CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_text_pairs,
       CAST((SELECT COUNT(*) FROM ep) AS BIGINT) AS n_emb_pairs,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_both,
       CAST(FLOOR(1000000.0 * (SELECT COUNT(*) FROM b)
                  / greatest((SELECT COUNT(*) FROM tp)
                             + (SELECT COUNT(*) FROM ep)
                             - (SELECT COUNT(*) FROM b), 1) + 0.5) AS BIGINT)
         AS agreement_ppm
"""


@query("dup_modality_agreement", oracle=_modality_agreement_oracle())
def dup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup agreement: near-dup pairs found by exact
    text 5-gram Jaccard (≥0.4) vs by embedding cosine (≥0.95), over
    the embedded subset of the corpus — intersection, per-modality
    counts, and the Jaccard of the two pair SETS (ppm). THE embedding-
    space sanity check for a dedup stack: text-near-dups the embedder
    does NOT place nearby mean the embedding space is too coarse for
    semantic dedup; embedding-pairs with no text overlap are either
    paraphrases (wanted) or embedding-collapse artifacts (a falling
    agreement trend is the alarm, cf. emb_spectrum_diagnostics).

    Both pair streams are matstore-materialized operators shared with
    their other consumers (dedup.doc_ngram_jaccard_pairs on the text
    side; similarity.emb_near_dup_lsh on the embedding side — the
    banded scale path, NOT the row-guarded brute baseline, so this
    sanity check still runs at the corpus scale where it matters);
    this query adds two unhinted semi-joins onto the embedded id set
    (corpus-sized at scale, so no broadcast hint — AQE decides), one
    pair-key intersection semi-join, and a scalar rollup.
    """
    from the_hive_spark.functions.matstore import materialized
    from the_hive_spark.operators.dedup import doc_ngram_jaccard_pairs
    from the_hive_spark.operators.similarity import emb_near_dup_lsh

    emb_ids = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id")
    )
    # The filtered text pair stream is consumed twice (count +
    # intersection); materialize the small (pair-count-sized) result
    # instead of re-running the semi-joins per action.
    tp = materialized(
        spark,
        ("modality_text_pairs", sf_dir),
        lambda: (
            doc_ngram_jaccard_pairs(spark, sf_dir)
            .select("doc_a", "doc_b")
            .join(
                emb_ids.withColumnRenamed("id", "doc_a"),
                "doc_a",
                "left_semi",
            )
            .join(
                emb_ids.withColumnRenamed("id", "doc_b"),
                "doc_b",
                "left_semi",
            )
        ),
    )
    ep = emb_near_dup_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    n_text = tp.count()
    n_emb = ep.count()
    n_both = tp.join(ep, ["doc_a", "doc_b"], "left_semi").count()
    union = max(n_text + n_emb - n_both, 1)
    rows = [
        (
            n_text,
            n_emb,
            n_both,
            int(1_000_000 * n_both / union + 0.5),
        )
    ]
    return spark.createDataFrame(
        rows,
        "n_text_pairs bigint, n_emb_pairs bigint, n_both bigint,"
        " agreement_ppm bigint",
    )


@query(
    "doc_length_outliers_mad",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
), med AS (
  SELECT x AS m FROM (
    SELECT x, ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rn, COUNT(*) OVER () AS n
    FROM d
  ) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT d.doc_id, d.x, ABS(d.x - med.m) AS ad, med.m FROM d CROSS JOIN med
), mad AS (
  SELECT ad AS mad_v FROM (
    SELECT ad, ROW_NUMBER() OVER (ORDER BY ad, doc_id) AS rn, COUNT(*) OVER () AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ANY_VALUE(dev.m) AS BIGINT) AS median_chars,
       CAST(ANY_VALUE(mad.mad_v) AS BIGINT) AS mad_chars,
       CAST(SUM(CASE WHEN dev.ad > 3 * mad.mad_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev CROSS JOIN mad
""",
)
def doc_length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length outliers: documents whose length deviates from
    the corpus median by more than 3× the median absolute deviation —
    the outlier gate that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers it is hunting (truncated dumps, concatenated
    files, binary-in-text blobs). Entirely integer arithmetic: both
    medians are exact lower-nearest-rank picks, the 3×MAD comparison
    is integer, no float moment anywhere.

    Two rank reductions (median of x, median of |x − med|) and one
    broadcast-scalar filter pass — the reduce-then-filter shape. Each
    exact median is picked from the RANGE-PARTITIONED distributed rank
    (functions/ids.py::dense_sequential_ids) — the old unpartitioned
    ROW_NUMBER window funneled the whole corpus through one task,
    the exact scale-killer the verdict flagged elsewhere; results are
    rank-identical so the oracle hash is unchanged.
    """
    from the_hive_spark.functions.ids import dense_sequential_ids

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("x")
    )

    def lower_median(df: DataFrame, col: str) -> int:
        ranked = dense_sequential_ids(df, [col, "doc_id"], id_col="rn")
        n = ranked.count()  # checkpointed by dense_sequential_ids
        return int(
            ranked.filter(F.col("rn") == (n + 1) // 2).collect()[0][col]
        )

    m = lower_median(d, "x")
    dev = d.withColumn("ad", F.abs(F.col("x") - F.lit(m)))
    mad = lower_median(dev, "ad")
    return dev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.lit(m).cast("bigint").alias("median_chars"),
        F.lit(mad).cast("bigint").alias("mad_chars"),
        F.sum((F.col("ad") > 3 * F.lit(mad)).cast("long"))
        .cast("bigint")
        .alias("n_outliers"),
    )


@query(
    "doc_charset_profile",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g'))
            AS BIGINT) AS n_printable_ascii,
       CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS BIGINT)
         AS n_non_ascii,
       (1000000.0 * length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
          / length(text) < 100000) AS passes_charset
FROM documents WHERE length(text) > 0
""",
)
def doc_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-set audit per document: printable-ASCII and non-ASCII
    counts plus a <10% non-ASCII keep flag — the mojibake / binary-in-
    text / wrong-encoding detector that runs before any tokenizer,
    since a feed whose bytes were decoded with the wrong charset
    poisons every downstream text signal while looking superficially
    like language.

    Pure JVM regexp counting over one repartitioned scan (the same
    heavy-expression convention as the BPE token stats); flags are
    in-row, no shuffle beyond the fan-out repartition.
    """
    n = spark.sparkContext.defaultParallelism
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .repartition(n)
    )
    non_ascii = F.length(F.regexp_replace("text", "[\\x00-\\x7F]", ""))
    printable = F.length("text") - F.length(
        F.regexp_replace("text", "[ -~]", "")
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        printable.cast("bigint").alias("n_printable_ascii"),
        non_ascii.cast("bigint").alias("n_non_ascii"),
        (1000000.0 * non_ascii / F.length("text") < 100000).alias(
            "passes_charset"
        ),
    )


HOTSPOT_TOPK = 20


@query(
    "doc_dup_gram_hotspots",
    oracle=f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - {COVER_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {COVER_N - 1}), ' ')))) AS gram
  FROM w WHERE len(words) >= {COVER_N}
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM g GROUP BY gram
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, gram
LIMIT {HOTSPOT_TOPK}
""",
)
def doc_dup_gram_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-text hotspots: the top-{HOTSPOT_TOPK} word
    {COVER_N}-grams appearing in the most documents — the "WHAT is the
    boilerplate" report that pairs with doc_dup_gram_coverage's
    per-doc "how much": license headers, cookie banners, and template
    chrome show up here verbatim, and the list feeds the strip-list a
    curation pipeline applies before dedup so boilerplate doesn't
    glue unrelated documents into one cluster.

    Same two-stage shape as the coverage query (in-row distinct gram
    arrays → repartitioned explode → map-side-combined df count) with
    a TakeOrdered top-k instead of the join back — the gram key space
    is the only thing shuffled.
    """
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= COVER_N)
        .repartition(n, "doc_id")
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {COVER_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {COVER_N})))"
                )
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(HOTSPOT_TOPK)
    )


BPE_TRAIN_MERGES = 5


@query("doc_bpe_train")  # iterative trainer ⇒ no SQL oracle (rows-only)
def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the real iterative loop (Sennrich et
    al., ACL'16): {BPE_TRAIN_MERGES} merge rounds over the corpus,
    emitting (rank, left, right, merged, pair_count) — the merge
    table a byte-pair tokenizer IS.

    The learned merge list goes through the materialization store
    (r11): it is THE tokenizer of a corpus snapshot — a deterministic
    pure function of (corpus, merge count) that both this query and
    doc_bpe_encode (the corpus-wide application pass) need, and before
    the store each of them re-ran the full 5-round train loop. Same
    contract as bpe_word_freq one line below, extended to the loop's
    output; the list is BPE_TRAIN_MERGES rows of strings, stored as a
    plain Python value.

    The scale design is the classic one: ONE corpus pass collapses the
    text to the word-frequency table (vocab-sized — thousands of rows
    against terabytes of text), and every merge round then runs
    against that table only: adjacent-pair counts are an in-row
    explode weighted by word count, the argmax is a driver-side
    collect of one row, and the merge application is an Arrow-batched
    pandas scan of the (tiny) word table. Ties break (count DESC,
    left ASC, right ASC) so training is deterministic on any engine;
    the merge list is pinned against a pure-Python reference in
    tests/test_bpe_train.py.
    """
    return spark.createDataFrame(
        _bpe_merges_cached(spark, sf_dir),
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def _bpe_merges_cached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    from the_hive_spark.functions.matstore import materialized

    return materialized(
        spark,
        ("bpe_merges", sf_dir, BPE_TRAIN_MERGES),
        lambda: _bpe_train_merges(spark, sf_dir),
    )


def _bpe_train_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    import pandas as pd

    from the_hive_spark.functions.matstore import materialized

    n = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents")
    words = materialized(
        spark,
        ("bpe_word_freq", sf_dir),
        lambda: (
            docs.repartition(n, "doc_id")
            .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        ),
    )

    # symbol arrays start as characters; stay a DataFrame all the way
    syms = words.select(F.split("w", "").alias("s"), "n")
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, BPE_TRAIN_MERGES + 1):
        pairs = syms.select(
            F.explode(
                F.expr(
                    "transform(slice(s, 1, size(s) - 1),"
                    " (x, i) -> struct(x AS l, s[i + 1] AS r))"
                )
            ).alias("p"),
            "n",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rank, left, right, left + right, cnt))
        if rank == BPE_TRAIN_MERGES:
            break  # final round: the re-segmentation has no consumer

        def apply_merge(batches, _l=left, _r=right):
            for pdf in batches:
                out = []
                for s in pdf["s"]:
                    res, i = [], 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == _l and s[i + 1] == _r:
                            res.append(_l + _r)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    out.append(res)
                yield pd.DataFrame({"s": out, "n": pdf["n"]})

        # localCheckpoint: each round's re-segmentation becomes the
        # next round's input; without it the lineage stacks a pandas
        # stage per round and re-executes all prior rounds per action.
        syms = syms.mapInPandas(
            apply_merge, "s array<string>, n bigint"
        ).localCheckpoint(eager=True)

    return merges


@query("doc_bpe_encode")  # applies the iterative trainer ⇒ rows-only
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization of the corpus with the merge table
    doc_bpe_train learned: per document, word and BPE-token counts
    plus tokens-per-word (milli) — the fertility metric that decides
    whether a tokenizer fits a corpus (fertility creep on a new source
    = vocabulary mismatch = wasted context window), and the token
    counter a training-data pipeline bills by.

    Scale shape: the merge list is bounded (BPE_TRAIN_MERGES rows) —
    collected once and closed over an Arrow-batched ``mapInPandas``
    scan of the corpus: ONE pass, embarrassingly parallel, no shuffle
    at all. Within each batch, distinct words encode once through a
    local cache (Zipf makes the cache hit rate ~token/type ratio).
    Application replays merges in rank order, exactly as Sennrich's
    reference applies a learned merge table; pinned against a pure-
    Python encoder in tests/test_bpe_train.py.
    """
    import pandas as pd

    # read the materialized merge list directly (rank order) — no
    # DataFrame round-trip, and the train loop runs once per corpus
    # snapshot however many consumers apply it (r11)
    merges = [
        (left, right)
        for _rank, left, right, _merged, _cnt in sorted(
            _bpe_merges_cached(spark, sf_dir)
        )
    ]

    # Per-batch work is vectorized through pandas C paths (r12, guide
    # §4.2): lower/split/explode/map/groupby-sum replace the former
    # per-document Python loop, so interpreted Python runs only once
    # per DISTINCT word (Zipf: ~type/token ratio of the corpus). The
    # merge REPLAY inside encode_word is byte-identical to Sennrich's
    # rank-order application (pinned in tests/test_bpe_train.py); the
    # `left+right not in w` prefilter only skips passes that cannot
    # match — the symbol list always concatenates back to w, so an
    # adjacent (left, right) implies the substring.
    def encode_batches(batches):
        cache: dict = {}

        def encode_word(w: str) -> int:
            syms = list(w)
            for left, right in merges:
                if left + right not in w:
                    continue
                i, res = 0, []
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            cache[w] = len(syms)
            return len(syms)

        for pdf in batches:
            words = pdf["text"].str.lower().str.split()
            n_words = words.str.len().fillna(0).astype("int64")
            ex = words.explode()
            wvals = ex[ex.notna()]
            for w in pd.unique(wvals.to_numpy()):
                if w not in cache:
                    encode_word(w)
            n_tokens = (
                wvals.map(cache)
                .groupby(level=0)
                .sum()
                .reindex(pdf.index, fill_value=0)
                .astype("int64")
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                }
            )

    n = spark.sparkContext.defaultParallelism
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
        .repartition(n, "doc_id")
    )
    out = docs.mapInPandas(
        encode_batches, "doc_id bigint, n_words bigint, n_tokens bigint"
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.when(F.col("n_words") == 0, F.lit(None).cast("bigint")).otherwise(
            F.floor(1000.0 * F.col("n_tokens") / F.col("n_words") + F.lit(0.5))
            .cast("bigint")
        ).alias("tokens_per_word_milli"),
    )


DUP_SPAN_MIN_RUN = 3  # consecutive duplicated grams to call a span


@query(
    "doc_dup_spans",
    oracle=f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         array_to_string(list_slice(words, i, i + {COVER_N - 1}), ' ') AS gram
  FROM w, UNNEST(range(1, len(words) - {COVER_N - 2})) AS t(i)
  WHERE len(words) >= {COVER_N}
), df AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram
), dup AS (
  SELECT g.doc_id, g.i FROM g JOIN df USING (gram) WHERE df.n_docs >= 2
), runs AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dup
)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(*) + {COVER_N - 1} AS BIGINT) AS span_words
FROM runs GROUP BY doc_id, grp
HAVING COUNT(*) >= {DUP_SPAN_MIN_RUN}
""",
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated SPANS per doc: maximal runs
    of ≥{DUP_SPAN_MIN_RUN} consecutive word {COVER_N}-grams that each
    also occur in some other document — the span-level ExactSubstr
    readout (Lee et al., arXiv:2107.06499 remove repeated substrings,
    not whole docs). doc_dup_gram_coverage says HOW MUCH of a doc is
    duplicated; this says WHERE, which is what a surgical span-removal
    pass (or a boilerplate extractor) actually consumes:
    (doc_id, span_start word position, run length, span word length).

    Plan: in-row gram construction → one (gram) document-frequency
    aggregation (countDistinct doc) → join back on gram → per-doc
    gaps-and-islands (position − row_number is constant within a
    consecutive run) → per-run aggregate. The only windows are
    partitioned BY doc_id — bounded by document length, never
    corpus-wide; the gram shuffle is the same two-exchange shape as
    the coverage query. No all-pairs anything.
    """
    from pyspark.sql import Window

    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= COVER_N)
        .repartition(n, "doc_id")
    )
    pos_grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(words) - {COVER_N - 1}),"
                f" i -> concat_ws(' ', slice(words, i, {COVER_N})))"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("i"), "gram")
    df = pos_grams.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    dup = (
        pos_grams.join(df, "gram")
        .filter(F.col("n_docs") >= 2)
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = dup.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            (F.count(F.lit(1)) + F.lit(COVER_N - 1))
            .cast("bigint")
            .alias("span_words"),
        )
        .filter(F.col("n_grams") >= DUP_SPAN_MIN_RUN)
        .drop("grp")
    )


def _dup_span_cte() -> str:
    """The doc_dup_spans oracle body as a reusable CTE prefix."""
    return f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         array_to_string(list_slice(words, i, i + {COVER_N - 1}), ' ') AS gram
  FROM w, UNNEST(range(1, len(words) - {COVER_N - 2})) AS t(i)
  WHERE len(words) >= {COVER_N}
), df AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram
), dup AS (
  SELECT g.doc_id, g.i FROM g JOIN df USING (gram) WHERE df.n_docs >= 2
), runs AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dup
), spans AS (
  SELECT doc_id,
         CAST(MIN(i) AS BIGINT) AS s,
         CAST(MIN(i) + COUNT(*) + {COVER_N - 2} AS BIGINT) AS e
  FROM runs GROUP BY doc_id, grp
  HAVING COUNT(*) >= {DUP_SPAN_MIN_RUN}
)"""


@query(
    "doc_dup_span_coverage",
    oracle=_dup_span_cte()
    + """, marked AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM spans
), islands AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), per_island AS (
  SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS covered
  FROM islands GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS words_covered
  FROM per_island GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(len(w.words) AS BIGINT) AS n_words,
       p.words_covered,
       CAST(FLOOR(1000000.0 * p.words_covered / len(w.words) + 0.5)
            AS BIGINT) AS coverage_ppm
FROM per_doc p JOIN w ON w.doc_id = p.doc_id
""",
)
def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level duplicated-span coverage per doc: the EXACT number
    of word positions covered by the union of doc_dup_spans' maximal
    runs (classic interval-union sweep: per-doc running max of span
    ends marks island starts; each island covers max_e − min_s + 1
    words) — the number a span-removal pass actually deletes, where
    doc_dup_gram_coverage's gram fraction over-counts overlapping
    grams and under-reports span word width.

    Plan: the span table is tiny relative to the corpus (one row per
    maximal run); every window here is partitioned BY doc_id over a
    doc's spans — bounded, parallel across docs. The only corpus-scale
    work is the shared gram pipeline inside doc_dup_spans.
    """
    from the_hive_spark.functions.intervals import interval_union_length

    spans = doc_dup_spans(spark, sf_dir).select(
        "doc_id",
        F.col("span_start").alias("s"),
        (F.col("span_start") + F.col("span_words") - 1).alias("e"),
    )
    per_doc = interval_union_length(
        spans, "doc_id", out_col="words_covered"
    )
    n_words = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.size(F.expr(_WORDS)).cast("bigint").alias("n_words"))
    )
    return per_doc.join(n_words, "doc_id").select(
        "doc_id",
        "n_words",
        "words_covered",
        F.floor(
            1000000.0 * F.col("words_covered") / F.col("n_words") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("coverage_ppm"),
    )


@query(
    "doc_source_overlap",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), gs AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(range(1, len(words) - {COVER_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {COVER_N - 1}), ' '))))
           AS gram
  FROM w WHERE len(words) >= {COVER_N}
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM gs a JOIN gs b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM gs GROUP BY source
)
SELECT i.source_a, i.source_b, i.n_shared,
       sa.n AS n_grams_a, sb.n AS n_grams_b,
       CAST(FLOOR(1000000.0 * i.n_shared / (sa.n + sb.n - i.n_shared) + 0.5)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""",
)
def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap BETWEEN sources: exact Jaccard (ppm)
    of each source pair's distinct word {COVER_N}-gram sets — the
    feed-provenance diagnostic (mirror sites, syndication, scraper
    overlap) that decides which sources are redundant BEFORE mixture
    weights are spent on them; complements doc_dup_rates_by_source
    (dup rate WITHIN a source) and dup span/coverage (per-document).

    Scale shape: never a source×source join of gram sets. One pass
    builds distinct (gram, source); per gram the source SET is
    collected in-row (bounded by the source count, a dimension — ~20
    here) and its C(k,2) pairs explode in-row, so the intersection
    counts come from one vocabulary-keyed aggregation plus a
    source-pair-grid rollup. Set sizes are one more aggregation of the
    same relation; Jaccard is grid-sized arithmetic.
    """
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("source", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= COVER_N)
        # round-robin, NOT keyed by source: a ~20-value key would cap
        # the gram-explode stage at 20 tasks and serialize the largest
        # source through one of them
        .repartition(n)
    )
    gs = base.select(
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {COVER_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {COVER_N})))"
                )
            )
        ).alias("gram"),
    ).distinct()
    per_gram = gs.groupBy("gram").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    pairs = per_gram.filter(F.size("srcs") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) ->"
                " transform(slice(srcs, i + 2, size(srcs)),"
                " b -> struct(a AS source_a, b AS source_b))))"
            )
        ).alias("p")
    )
    inter = pairs.groupBy("p.source_a", "p.source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    sizes = gs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_grams_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_grams_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            F.floor(
                1000000.0
                * F.col("n_shared")
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared"))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


COMPRESS_REPETITIVE_PPM = 300_000  # ratio below this ⇒ templated/repetitive


@query("doc_compressibility")  # zlib is Python-side ⇒ rows-only
def doc_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per document: zlib-compressed
    size over raw size (ppm) — the cheap, language-agnostic
    repetitiveness detector training pipelines run next to the Gopher
    word-level filters (templated boilerplate and log spam compress
    far below natural text; near-incompressible text is often binary
    junk or ciphertext mislabeled as text). Flags ratio <
    {COMPRESS_REPETITIVE_PPM} ppm as repetitive.

    Deterministic: zlib level 6 output length on identical UTF-8
    bytes is identical everywhere this container runs (single pinned
    zlib); the query is rows-only by design (no SQL zlib) and pinned
    against direct Python zlib in tests. Scale shape: one
    Arrow-batched mapInPandas pass, embarrassingly parallel, no
    shuffle at all — the same profile as doc_bpe_encode.
    """
    import pandas as pd
    import zlib

    def batches(it):
        for pdf in it:
            n_raw, n_comp = [], []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                n_raw.append(len(raw))
                n_comp.append(len(zlib.compress(raw, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series(n_raw, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                }
            )

    n = spark.sparkContext.defaultParallelism
    out = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
        .repartition(n, "doc_id")
        .mapInPandas(
            batches, "doc_id bigint, n_bytes bigint, n_compressed bigint"
        )
    )
    ratio_ppm = F.floor(
        1000000.0 * F.col("n_compressed") / F.col("n_bytes") + F.lit(0.5)
    ).cast("bigint")
    return out.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        ratio_ppm.alias("ratio_ppm"),
        # flag from the ROUNDED value the row reports — flagging on the
        # raw ratio could contradict the displayed ratio_ppm at the
        # threshold boundary
        (ratio_ppm < COMPRESS_REPETITIVE_PPM).alias("flagged_repetitive"),
    )


NOVELTY_N = 4  # words per gram, matching the dedup family's shingles


@query(
    "doc_ngram_novelty",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(range(1, len(words) - {NOVELTY_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {NOVELTY_N - 1}), ' ')))) AS gram
  FROM w WHERE len(words) >= {NOVELTY_N}
), first AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.source,
       CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(FLOOR(1000000.0 * SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  / COUNT(*) + 0.5) AS BIGINT) AS novelty_ppm
FROM g JOIN first f USING (gram)
GROUP BY g.source
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty profile per source: of each document's distinct
    word {NOVELTY_N}-grams, the fraction whose FIRST corpus occurrence
    (min doc_id — the canonical "crawl order" stand-in) is that
    document, aggregated per source. This is the diminishing-returns
    curve behind "does adding this source still buy new text?"
    (the data-mixing question): a source whose novelty_ppm collapses
    is re-crawling what the corpus already holds, and dedup will eat
    most of its tokens.

    Plan: in-row distinct gram arrays → repartitioned explode → ONE
    (gram → min doc_id) map-side-combined aggregation → join back on
    gram (co-partitioned with the agg, no extra exchange) → per-source
    rollup (source cardinality is bounded). Same two-shuffle shape as
    doc_dup_gram_coverage; no all-pairs, no window.
    """
    n = spark.sparkContext.defaultParallelism
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "source", F.expr(_WORDS).alias("words"))
        .filter(F.size("words") >= NOVELTY_N)
        .repartition(n, "doc_id")
    )
    grams = base.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {NOVELTY_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {NOVELTY_N})))"
                )
            )
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    nov_ppm = 1000000.0 * F.sum(novel) / F.count(F.lit(1))
    return (
        grams.join(first, "gram")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.floor(nov_ppm + F.lit(0.5)).cast("bigint").alias("novelty_ppm"),
        )
    )


LEAK_COVERAGE_PPM = 500_000  # flag eval docs with ≥50% train-gram cover


@query(
    "doc_split_leakage",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'val' ELSE 'test' END AS split,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
  FROM documents WHERE length(text) > 0
), g AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(range(1, len(words) - {NOVELTY_N - 2}),
                i -> array_to_string(list_slice(words, i, i + {NOVELTY_N - 1}), ' ')))) AS gram
  FROM w WHERE len(words) >= {NOVELTY_N}
), train_grams AS (
  SELECT DISTINCT gram FROM g WHERE split = 'train'
)
SELECT g.doc_id, g.split,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_train,
       CAST(FLOOR(1000000.0 * SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END)
                  / COUNT(*) + 0.5) AS BIGINT) AS coverage_ppm,
       (1000000.0 * SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*)
          >= {LEAK_COVERAGE_PPM}) AS leaked
FROM g LEFT JOIN train_grams t USING (gram)
WHERE g.split != 'train'
GROUP BY g.doc_id, g.split
""",
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination check for the hash split
    (doc_split_assignment's 80/10/10): per val/test document, the
    fraction of its distinct word {NOVELTY_N}-grams that also occur in
    ANY train-split document, with a ≥50% "leaked" flag. Exact-dup and
    near-dup documents that straddle the split boundary show up here
    at coverage ≈ 1 — the leak that silently inflates held-out
    metrics (the split is uniform over docs, so duplicate clusters
    almost always straddle it). Run after dedup, this should be ~flat
    background overlap; spikes mean dedup missed cross-split pairs.

    Plan: one gram explode per side of the split predicate (same
    corpus scan, codegen-filtered), distinct train grams via map-side
    combined aggregate, then a LEFT equi-join on gram — co-partitioned
    with the distinct, no broadcast of anything corpus-sized — and a
    per-doc rollup. The split predicate is a pure row function
    (md5(doc_id)), so no split table is stored or shuffled.
    """
    n = spark.sparkContext.defaultParallelism
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
            F.expr(_WORDS).alias("words"),
        )
        .filter(F.size("words") >= NOVELTY_N)
        .repartition(n, "doc_id")
    )
    grams = base.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(words) - {NOVELTY_N - 1}),"
                    f" i -> concat_ws(' ', slice(words, i, {NOVELTY_N})))"
                )
            )
        ).alias("gram"),
    )
    train = (
        grams.filter(F.col("split") == "train").select("gram").distinct()
        .withColumn("_in_train", F.lit(1))
    )
    hit = F.col("_in_train").isNotNull().cast("long")
    cov = 1000000.0 * F.sum(hit) / F.count(F.lit(1))
    return (
        grams.filter(F.col("split") != "train")
        .join(train, "gram", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_in_train"),
            F.floor(cov + F.lit(0.5)).cast("bigint").alias("coverage_ppm"),
            (cov >= LEAK_COVERAGE_PPM).alias("leaked"),
        )
    )
