"""Broadcast hygiene + engine/hive-surface plan assertions.

Two nets the round-3 review asked for:

1. A STATIC sweep: no source line may hard-hint ``F.broadcast()`` on a
   relation that grows with scale factor (supplier/part/customer/
   orders/lineitem/documents/embeddings, or the conventional local
   names bound to them). At 100 TB those are multi-billion-row tables
   and a forced broadcast is a job-killing hint AQE cannot override;
   fixed-cardinality nation/region and k-row/1-row derived sets are
   the only legitimate hint targets.

2. PLAN tests for the HiveEngine / hive_* chat surface — the one place
   round 3's backwards broadcast hid, because plans/report.py only
   rendered registry bench queries. Asserts WHAT is broadcast (the
   bounded side), not just that a broadcast exists.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from the_hive_spark.engine import HiveEngine
from the_hive_spark.plans.inspect import (
    broadcast_subtrees,
    executed_plan,
    plan_summary,
)
from the_hive_spark.registry import QUERIES, load_all
from tests.fixtures import jobs_in, seed_files

load_all()

SF_DIR = "/root/testdata/sf0.001"
SRC_ROOT = Path(__file__).resolve().parent.parent

# sf-scaling base tables: a hard broadcast hint on any of these (or a
# select/filter/alias of one) is forbidden — AQE decides at runtime.
_SCALING_TABLES = (
    "supplier|part|customer|orders|lineitem|documents|embeddings|events"
)
# conventional local variable names bound to scaling relations in this
# codebase (historical offenders; single letters excluded on purpose —
# they are checked through the table() pattern and plan tests instead)
_SCALING_NAMES = {
    "supp", "sup", "part", "cust", "customer", "supplier", "docs",
    "emb", "emb_ids", "lineitem", "orders", "li", "ia", "ib",
}


def _broadcast_args(text: str):
    """Yield the balanced-paren argument of every F.broadcast( call."""
    for m in re.finditer(r"F\.broadcast\(", text):
        i = m.end()
        depth, j = 1, i
        while depth and j < len(text):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
            j += 1
        yield text[i : j - 1], text[: m.start()].count("\n") + 1


def test_no_forced_broadcast_of_scaling_relations():
    offenders = []
    files = list((SRC_ROOT / "the_hive_spark").rglob("*.py"))
    files += [SRC_ROOT / "__spark_entry__.py", SRC_ROOT / "bench.py"]
    table_pat = re.compile(
        rf"""table\(\s*spark\s*,\s*sf_dir\s*,\s*["']({_SCALING_TABLES})["']"""
    )
    for path in files:
        text = path.read_text()
        for arg, line in _broadcast_args(text):
            arg = arg.strip()
            if table_pat.search(arg):
                offenders.append(f"{path.name}:{line}: F.broadcast({arg})")
                continue
            # bare name or name.method(...) chain rooted at a known
            # scaling-relation variable
            root = re.match(r"([A-Za-z_]\w*)", arg)
            if root and root.group(1) in _SCALING_NAMES:
                offenders.append(f"{path.name}:{line}: F.broadcast({arg})")
    assert not offenders, (
        "forced broadcast of sf-scaling relation(s) — drop the hint and "
        "let AQE decide:\n" + "\n".join(offenders)
    )


def test_chat_citations_broadcasts_the_k_row_side(spark):
    """hive_chat_citations: the broadcast build sides must be the
    1-row query vector and the 5-row ranked match set — never the
    documents corpus (the round-3 'weak' finding)."""
    df = QUERIES["hive_chat_citations"](spark, SF_DIR)
    subtrees = broadcast_subtrees(df)
    assert subtrees, "chat citations should broadcast its k-row sides"
    for sub in subtrees:
        scans = re.findall(r"ReadSchema: (\S+)", sub)
        for rs in scans:
            assert "text" not in rs, (
                "a broadcast subtree scans the documents text column — "
                "the corpus is being broadcast:\n" + sub
            )
        # every broadcast subtree must be row-bounded: either a limit
        # (TakeOrdered/*Limit*) or scan-free (derived 1-row aggregate)
        assert (
            "TakeOrderedAndProject" in sub
            or "Limit" in sub
            or not scans
        ), "broadcast subtree is not row-bounded:\n" + sub


@pytest.fixture(scope="module")
def plan_engine(spark, tmp_path_factory):
    eng = HiveEngine(
        spark, str(tmp_path_factory.mktemp("wh_plans")), embedding_dim=16
    )
    eng.ingest_batch(seed_files(spark))
    return eng


def test_table_read_cost_flat_in_live_file_count(spark, tmp_path):
    """Counting a table with more than 32 live files launches no more
    Spark jobs than counting a one-file table. An explicit list of that
    many paths would start Spark's parallel-listing job on every read;
    audit_logs gains a file per audited search."""
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    sc = spark.sparkContext

    def count_jobs(group):
        sc.setJobGroup(group, group)
        try:
            eng.read_table("audit_logs").count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    eng._audit_row("t", "SEARCH", "first", "")
    one_file = count_jobs("read_cost_1")
    for i in range(39):
        eng._audit_row("t", "SEARCH", f"search {i}", "")
    assert len(eng._manifest("audit_logs")["files"]) == 40
    assert count_jobs("read_cost_40") <= one_file


def test_audit_append_launches_no_spark_job(spark, plan_engine):
    """The audit row is written by pyarrow and its id comes from the
    manifest: an audited search launches exactly the jobs of an
    unaudited one, and the append itself launches none."""
    search = lambda audit: plan_engine.search(  # noqa: E731
        "alpha", audit=audit).collect()
    assert jobs_in(spark, "search_audited", lambda: search(True)) == jobs_in(
        spark, "search_unaudited", lambda: search(False))
    assert jobs_in(spark, "audit_row", lambda: plan_engine._audit_row(
        "t", "SEARCH", "no job", "org1")) == 0
    assert jobs_in(spark, "next_id", lambda: plan_engine._next_id("audit_logs")) == 0


def test_engine_search_runs_no_spark_job(spark, plan_engine):
    """search() ranks on the driver over the chunk index and returns a
    local relation: neither the call, audited or not, nor the caller's
    collect launches a Spark job."""
    for audit in (True, False):
        hits = []
        assert jobs_in(spark, f"search_jobs_{audit}", lambda: hits.extend(
            plan_engine.search("alpha", audit=audit).collect())) == 0
        assert len(hits) == 3


def test_engine_chat_runs_no_spark_job(spark, plan_engine):
    """chat() builds its one row on the driver, and a persisted chat
    reads the session's rows and writes its messages with pyarrow: no
    Spark job with or without a session, for a new session or a
    continued one."""
    for i, session in enumerate((None, "plan-s1", "plan-s1")):
        rows = []
        assert jobs_in(spark, f"chat_jobs_{i}", lambda: rows.extend(
            plan_engine.chat("alpha", session_id=session).collect())) == 0
        assert len(rows[0]["citations"]) == 5
    history = plan_engine.chat_history("plan-s1").collect()
    assert [m["message_index"] for m in history] == [0, 1, 2, 3]


def test_engine_stats_runs_no_spark_job(spark, plan_engine):
    """stats() counts rows from file footers and the chunk index."""
    got = {}
    assert jobs_in(spark, "stats_jobs", lambda: got.update(plan_engine.stats())) == 0
    assert got == {
        "total_chunks": plan_engine.read_table("chunks").count(),
        "total_vectors": plan_engine.read_table("chunks")
        .filter("embedding IS NOT NULL").count(),
        "total_documents": plan_engine.read_table("documents").count(),
    }


def test_all_new_ingest_batch_job_count(spark, tmp_path):
    """An all-new 5-file batch on a warm warehouse (one earlier batch)
    runs at most 4 Spark jobs: one collect of the cached relation's
    per-file rows (with the documents scan change detection joins) and
    the chunks commit's toArrow. The tallies and the events, alerts,
    audit and documents rows are built on the driver, and the key-scoped
    commits probe the live files with pyarrow. The batch ran 15 jobs
    when an aggregate gave the tallies, each commit wrote a projection
    in Spark and the key probes were Spark joins, and 20 before that."""
    import pyspark.sql.functions as F

    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=16)
    assert eng.ingest_batch(seed_files(spark))["files"] == 5
    new = seed_files(spark).withColumn(
        "path", F.regexp_replace("path", "^/watch/", "/warm/")
    )
    stats = {}
    jobs = jobs_in(spark, "ingest_all_new", lambda: stats.update(eng.ingest_batch(new)))
    assert stats["files"] == 5
    assert jobs <= 4, jobs


def test_engine_reactions_run_no_spark_job(spark, plan_engine):
    """The analyst reactions read the chunk index on the driver and
    commit their matches with pyarrow. evaluate_rules,
    evaluate_rules_cross_doc and contradiction_candidates run no Spark
    job for an id list, the caller's collect included, and at most the
    one job that collects the ids of a DataFrame. The streaming
    pipeline's active-rules guard runs none."""
    plan_engine.add_rule(
        41, "Does this contradict other documents about confidential pricing?")
    frame = plan_engine.read_table("documents").select("id")
    docs = [r["id"] for r in frame.collect()]
    reactions = {
        "rules": plan_engine.evaluate_rules,
        "cross_doc": plan_engine.evaluate_rules_cross_doc,
        "contradiction": lambda ids: plan_engine.contradiction_candidates(
            new_doc_ids=ids),
    }
    for name, react in reactions.items():
        rows, frame_rows = [], []
        assert jobs_in(spark, f"{name}_list", lambda: rows.extend(
            react(docs).collect())) == 0, name
        assert jobs_in(spark, f"{name}_frame", lambda: frame_rows.extend(
            react(frame).collect())) <= 1, name
        if name != "cross_doc":
            assert rows and frame_rows, name
    assert jobs_in(spark, "active_rule_rows", plan_engine.active_rule_rows) == 0


def test_engine_contradiction_sweep_path_no_all_pairs(plan_engine):
    """corpus-wide sweep: banded SRP-LSH equi-join — no cartesian, no
    BroadcastNestedLoopJoin of the corpus against itself."""
    plan = executed_plan(plan_engine.contradiction_candidates())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_engine_integrity_report_plan(plan_engine):
    """integrity_report(): one pass per fact, left joins against
    key sets, no cartesian anywhere."""
    s = plan_summary(plan_engine.integrity_report())
    assert s["cartesian_products"] == 0


def test_ann_bucket_layout_prunes_partitions(spark, tmp_path):
    """The ANN docstring's cluster-layout claim, machine-checked: with
    embeddings written partitioned by LSH bucket, the probe filter
    becomes a PARTITION filter — the scan reads only the probed
    buckets' files, so ANN cost drops to the probed fraction of the
    corpus at any scale."""
    import pyspark.sql.functions as F

    from the_hive_spark.functions.lsh import (
        hyperplanes,
        signature_bits,
        simhash_signature_udf,
    )
    from the_hive_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    sig_udf = simhash_signature_udf(8)
    emb.withColumn("_bucket", sig_udf(F.col("embedding"))).write.partitionBy(
        "_bucket"
    ).parquet(str(tmp_path / "emb_bucketed"))

    laid_out = spark.read.parquet(str(tmp_path / "emb_bucketed"))
    import numpy as np

    dim = len(emb.first()["embedding"])
    planes = hyperplanes(dim, 8)
    q = np.ones(dim)
    q_sig = int(signature_bits(q[None, :], planes)[0])
    probed = laid_out.filter(F.col("_bucket").isin([q_sig, q_sig ^ 1]))

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "_bucket" in plan.split("PartitionFilters: [")[1][:200], (
        "the probe filter must prune at the partition level, "
        "not post-scan:\n" + plan[:800]
    )
    # and the pruned scan must agree with the unpartitioned filter
    want = emb.withColumn("_bucket", sig_udf(F.col("embedding"))).filter(
        F.col("_bucket").isin([q_sig, q_sig ^ 1])
    ).count()
    assert probed.count() == want


def test_engine_contradiction_strategy_switches_on_measured_stats(plan_engine):
    """The advisor wiring (round-4 verdict ask #6): the batch path's
    plan SHAPE is chosen from the batch's size vs the session's
    broadcast threshold. Small batch → exact top-k on the driver over
    the chunk index; batch bigger than the threshold → banded-LSH
    index path (an equi-join plan with NO nested loop), restricted to
    the batch's sources. AQE can demote a shuffle to a broadcast but
    can never make this logical switch — hence advise_rowcount."""
    spark = plan_engine.spark
    some_doc = plan_engine.read_table("documents").limit(1).collect()[0]["id"]

    # default threshold (10 MB): tiny batch → exact top-k on the
    # driver, returned as a local relation
    df_small = plan_engine.contradiction_candidates(new_doc_ids=[some_doc])
    assert executed_plan(df_small).lstrip().startswith("LocalTableScan")

    # force the measured decision the other way: any batch is now
    # "too big to broadcast" → LSH index path
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        df_big = plan_engine.contradiction_candidates(new_doc_ids=[some_doc])
        plan = executed_plan(df_big)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # still restricted to the batch's sources
        assert {
            r["source_doc_id"] for r in df_big.collect()
        } <= {some_doc}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_round6_operator_plans(spark):
    """Plan-shape pins for the round-6 operators: the scale arguments
    in their docstrings must be visible in the physical plan, not just
    asserted in prose."""
    load_all()
    sf = SF_DIR

    # skyline: no cartesian/smj dominance scan — one agg + a window
    # over the aggregated size domain + a join back
    s = plan_summary(QUERIES["q_part_skyline"](spark, sf), execute=True)
    assert s["cartesian_products"] == 0
    assert s["sort_merge_joins"] == 0  # join back is broadcastable

    # minhash calibration: the audit is equi-joins on the pair stream;
    # nothing cartesian, no nested-loop all-pairs
    s = plan_summary(
        QUERIES["doc_minhash_calibration"](spark, sf), execute=True
    )
    assert s["cartesian_products"] == 0
    assert s["broadcast_nested_loop_joins"] == 0

    # lateness profile: partitioned running-max window — the plan may
    # not contain a single-partition global sort of the fact rows
    # (Window over user_id partitions only)
    plan = executed_plan(QUERIES["events_lateness_profile"](spark, sf))
    assert "CartesianProduct" not in plan
    import re as _re

    for m in _re.finditer(r"Window .*", plan):
        assert "user_id" in m.group(0)  # every window is per-user

    # backlog: the running sum's single-partition window exists but
    # ONLY downstream of the day-domain aggregates (never over facts):
    # the plan has exactly one Window and both groupBys happen first
    plan = executed_plan(QUERIES["q_order_backlog_daily"](spark, sf))
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
