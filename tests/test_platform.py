"""Platform-surface tests: chat persistence, usage tally, cross-doc
rules (J4), API-key lifecycle, and the scalar helpers (F7/F8/F11/F12)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from the_hive_spark.engine import HiveEngine
from the_hive_spark.functions.textops import (
    answer_question_fallback,
    extract_client_ip,
    fallback_tags,
    mask_key,
    normalize_answer,
    normalize_tags,
)
from tests.fixtures import SEED_DOCS


@pytest.fixture()
def engine(spark, tmp_path):
    eng = HiveEngine(spark, str(tmp_path / "wh"), embedding_dim=32)
    files = spark.createDataFrame(
        [(f"/in/{name}", text, "", {}) for name, text in SEED_DOCS.items()],
        "path string, content string, organization_id string, "
        "metadata map<string,string>",
    )
    eng.ingest_batch(files)
    return eng


# ------------------------------------------------------------ scalar helpers


def test_normalize_answer(spark):
    rows = [("Yes, it does.",), ("NO",), ("Absolutely not, NO way",),
            ("maybe",), ("YES and NO",)]
    df = spark.createDataFrame(rows, "raw string")
    got = [r[0] for r in df.select(normalize_answer(F.col("raw"))).collect()]
    assert got == ["YES", "NO", "NO", "NO", "YES"]


def test_normalize_tags(spark):
    rows = [
        ('```json\n["legal", "finance"]\n```',),
        ('["#a", " b ", "", "c", "d", "e", "f"]',),
        ("not json at all",),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = [r[0] for r in df.select(normalize_tags(F.col("raw"))).collect()]
    assert got[0] == ["#legal", "#finance"]
    assert got[1] == ["#a", "#b", "#c", "#d", "#e"]  # capped at 5, '#' added
    assert got[2] == []


def test_fallback_tags(spark):
    df = spark.createDataFrame(
        [("This legal finance memo is urgent",), ("nothing here",)], "content string"
    )
    got = [r[0] for r in df.select(fallback_tags(F.col("content"))).collect()]
    assert got[0] == ["#legal", "#finance", "#urgent"]
    assert got[1] == []


def test_answer_question_fallback(spark):
    df = spark.createDataFrame(
        [("q", "contains confidential data"), ("q", "innocuous")],
        "question string, content string",
    )
    got = [
        r[0]
        for r in df.select(
            answer_question_fallback(F.col("question"), F.col("content"))
        ).collect()
    ]
    assert got == ["YES", "NO"]


def test_extract_client_ip(spark):
    rows = [
        ("10.0.0.1, 10.0.0.2", "192.168.1.1", "172.16.0.1:8080", "10.0.0.1"),
        (None, "192.168.1.1", "172.16.0.1:8080", "192.168.1.1"),
        ("", None, "172.16.0.1:8080", "172.16.0.1"),
        (None, None, "172.16.0.1", "172.16.0.1"),
    ]
    df = spark.createDataFrame(rows, "xff string, rip string, ra string, want string")
    got = df.select(
        extract_client_ip(F.col("xff"), F.col("rip"), F.col("ra")).alias("ip"),
        "want",
    ).collect()
    for r in got:
        assert r["ip"] == r["want"]


def test_mask_key(spark):
    df = spark.createDataFrame([("hive_abcdef1234",), ("short",)], "k string")
    got = [r[0] for r in df.select(mask_key(F.col("k"))).collect()]
    assert got[0] == "hiv****1234"
    assert got[1] == "****"


# ----------------------------------------------------------------- platform


def test_chat_persists_session_and_messages(engine):
    engine.chat("project alpha report", session_id="s1", user_id="u1")
    engine.chat("beta prototype", session_id="s1", user_id="u1")
    sessions = engine.read_table("chat_sessions").collect()
    assert len(sessions) == 1 and sessions[0]["title"].startswith("project alpha")
    hist = engine.chat_history("s1").collect()
    assert [m["role"] for m in hist] == ["user", "assistant", "user", "assistant"]
    assert hist[1]["citations"], "assistant message must carry citations"
    assert hist[1]["content"].startswith("Based on the retrieved context")


def test_usage_tally(engine):
    engine.record_usage("mock-embed", 100, 0, organization_id="orgA")
    engine.record_usage("mock-llm", 50, 25, organization_id="orgA")
    engine.record_usage("mock-llm", 10, 5, organization_id="orgB")
    tally = {
        (r["organization_id"], r["model"]): (
            r["total_input_tokens"], r["total_output_tokens"], r["n_calls"])
        for r in engine.usage_tally().collect()
    }
    assert tally[("orgA", "mock-llm")] == (50, 25, 1)
    assert tally[("orgB", "mock-llm")] == (10, 5, 1)
    only_a = engine.usage_tally("orgA").collect()
    assert {r["organization_id"] for r in only_a} == {"orgA"}


def test_cross_doc_rules(engine, spark):
    from tests.fixtures import CONFIDENTIAL_DOC

    # a second keyword-bearing doc so a (both-sides-hit) pair exists
    name, text = CONFIDENTIAL_DOC
    engine.ingest_batch(
        spark.createDataFrame(
            [(f"/in/{name}", text, "", {})],
            "path string, content string, organization_id string, "
            "metadata map<string,string>",
        )
    )
    engine.add_rule(1, "Does this document contradict existing documents"
                       " about confidential pricing?")
    engine.add_rule(2, "Does this document mention pricing?")  # single-doc
    out = engine.evaluate_rules_cross_doc(top_k=5).collect()
    # only rule 1 is cross-doc; matches need BOTH docs to hit a keyword
    assert out, "expected at least one cross-doc match among seed docs"
    assert {r["rule_id"] for r in out} == {1}
    assert all(r["match_type"] == "cross_doc" for r in out)
    assert all(r["matched_doc"] for r in out)


def test_cross_doc_rows_equal_the_spark_plan(engine, spark):
    """evaluate_rules_cross_doc ranks neighbors on the driver over the
    chunk index; its rows and schema equal the all-pairs Spark plan it
    replaced, for every document and for ids given as a list or a
    DataFrame, at two k."""
    from tests.fixtures import CONFIDENTIAL_DOC
    from tests.reference_plans import spark_cross_doc_matches

    name, text = CONFIDENTIAL_DOC
    engine.ingest_batch(
        spark.createDataFrame(
            [(f"/in/{name}", text, "", {}),
             ("/in/secret.txt", "A secret about confidential pricing.", "", {})],
            "path string, content string, organization_id string, "
            "metadata map<string,string>",
        )
    )
    engine.add_rule(1, "Does this document contradict existing documents"
                       " about confidential pricing?")
    engine.add_rule(2, "Does this document mention pricing?")  # single-doc
    engine.add_rule(3, "Is it inconsistent with other documents?")
    ids = [f"/in/{name}", "/in/project_alpha.md", "/in/no-such-doc"]
    frame = spark.createDataFrame([(i,) for i in ids], "document_id string")
    key = lambda r: tuple(map(str, r))  # noqa: E731
    for doc_ids in (None, ids, frame):
        for k in (2, 10):
            want = spark_cross_doc_matches(engine, doc_ids, k)
            got = engine.evaluate_rules_cross_doc(doc_ids, top_k=k)
            assert got.schema == want.schema
            assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert {r["rule_id"] for r in engine.evaluate_rules_cross_doc(top_k=5).collect()} == {1, 3}


def test_api_key_lifecycle(engine):
    key = engine.generate_api_key("drone-1")
    assert key.startswith("hive_")
    engine.touch_api_key(key)
    status = {r["client_name"]: r for r in engine.clients_status().collect()}
    assert status["drone-1"]["is_online"] is True
    assert status["drone-1"]["masked_key"].startswith("hiv")
    assert "****" in status["drone-1"]["masked_key"]
    engine.set_api_key_active(key, False)
    status = {r["client_name"]: r for r in engine.clients_status().collect()}
    assert status["drone-1"]["is_online"] is False


def test_system_metadata_days_active(engine):
    """A7/A8: install-date K/V + whole-day derivation + trial countdown
    (system_metadata.go:96-104, licensing_middleware.go:70-84)."""
    assert engine.days_active() == 0  # no install_date recorded yet
    engine.set_metadata("install_date", "2026-01-01")
    assert engine.get_metadata("install_date") == "2026-01-01"
    assert engine.days_active(as_of="2026-01-31") == 30
    assert engine.trial_days_remaining(trial_days=365, as_of="2026-01-31") == 335
    assert engine.trial_days_remaining(trial_days=10, as_of="2026-03-01") == 0
    # upsert semantics: re-set replaces, not duplicates
    engine.set_metadata("install_date", "2026-02-01")
    assert engine.get_metadata("install_date") == "2026-02-01"
    assert engine.read_table("system_metadata").filter(
        "key = 'install_date'"
    ).count() == 1


def test_brute_force_near_dup_guard(spark):
    """The exact all-pairs baseline must refuse corpora above its
    documented bound instead of OOMing (VERDICT r1 #5)."""
    import pytest

    from the_hive_spark.operators.similarity import near_dup_pairs_brute
    from the_hive_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="brute-force bound"):
        near_dup_pairs_brute(spark, emb, max_rows=10)
    # under the bound it still runs (plan materializes)
    assert near_dup_pairs_brute(spark, emb).count() >= 0


def test_users_orgs_rbac(engine):
    """§2.10 management CRUD: org/user creation is idempotent
    (UUIDv5), roles gate like the reference middleware chain, and
    tenant-from-domain resolves (users_handler.go, tenant_handler.go)."""
    import pytest

    org = engine.create_organization("acme", custom_domain="acme.hive.example")
    # idempotent re-create: same id, row replaced not duplicated
    assert engine.create_organization("acme", custom_domain="acme.hive.example") == org
    admin = engine.create_user("root@acme.io", role="admin", organization_id=org)
    viewer = engine.create_user("eyes@acme.io", role="viewer", organization_id=org)
    super_ = engine.create_user("boss@hq.io", role="super-admin")
    with pytest.raises(ValueError, match="unknown role"):
        engine.create_user("x@y.z", role="owner")

    assert engine.users(org).count() == 2
    assert engine.organizations().count() == 1
    assert engine.org_from_domain("acme.hive.example") == org
    assert engine.org_from_domain("nope.example") is None

    assert engine.require_role(admin, ("admin",))
    assert not engine.require_role(viewer, ("admin",))
    assert engine.require_role(super_, ("admin",))  # super-admin passes all
    assert engine.require_role(viewer, ("admin", "viewer"))

    engine.set_user_role(viewer, "admin")
    assert engine.require_role(viewer, ("admin",))
    engine.set_user_active(viewer, False)
    assert not engine.require_role(viewer, ("admin",))  # inactive fails gate


def test_misc_surface_rule_matches_and_events(engine):
    """§2.10 misc stubs (misc_handlers.go:27-53), implemented: the
    rule-match reader returns persisted evaluator output, and the
    rule-event reader returns the RULE_ADD/RULE_EVAL audit trail."""
    engine.add_rule(7, "flag confidential material")
    out = engine.evaluate_rules()
    n_matches = out.count()
    got = engine.rule_matches(limit=50).collect()
    assert len(got) == min(n_matches, 50)
    assert all(r["rule_id"] == 7 for r in got)

    ev = engine.rule_events(limit=50).collect()
    actions = {r["action"] for r in ev}
    assert actions == {"RULE_ADD", "RULE_EVAL"}
    assert any("rule 7 added" in r["details"] for r in ev)


def test_misc_surface_audit_export(engine, tmp_path):
    """§2.10 audit export (misc_handlers.go:55-67): JSONL and CSV
    dumps round-trip the full audit log with ISO timestamps."""
    import pytest

    n = engine.read_table("audit_logs").count()
    assert n > 0  # ingest audited
    exported = engine.export_audit(str(tmp_path / "audit_jsonl"), "jsonl")
    assert exported == n
    back = engine.spark.read.json(str(tmp_path / "audit_jsonl"))
    assert back.count() == n
    assert "timestamp" in back.columns

    assert engine.export_audit(str(tmp_path / "audit_csv"), "csv") == n
    with pytest.raises(ValueError, match="unsupported"):
        engine.export_audit(str(tmp_path / "x"), "xml")


def test_misc_surface_logos(engine):
    """§2.10 logo endpoints (misc_handlers.go:70-94): binary asset
    upsert idempotent on (org, name); listing projects the binary OUT
    and reports sizes."""
    engine.upload_logo("orgA", "main.png", b"\x89PNG fakebytes")
    engine.upload_logo("orgA", "main.png", b"\x89PNG replaced!!")  # upsert
    engine.upload_logo("orgB", "alt.svg", b"<svg/>", content_type="image/svg+xml")

    rows = engine.list_logos().collect()
    assert [(r["organization_id"], r["name"]) for r in rows] == [
        ("orgA", "main.png"), ("orgB", "alt.svg"),
    ]
    by_name = {r["name"]: r for r in rows}
    assert by_name["main.png"]["n_bytes"] == len(b"\x89PNG replaced!!")
    assert by_name["alt.svg"]["content_type"] == "image/svg+xml"
    assert "content" not in set(engine.list_logos().columns)
    assert engine.list_logos("orgB").count() == 1


def test_misc_surface_login_as(engine):
    """§2.10 login-as (misc_handlers.go:13-25): super-admin only,
    inactive targets refused, audit row names both parties."""
    import pytest

    org = engine.create_organization("corp")
    boss = engine.create_user("root@corp.io", role="super-admin",
                              organization_id=org)
    peon = engine.create_user("dev@corp.io", role="viewer",
                              organization_id=org)

    got = engine.login_as(boss, peon)
    assert got["user_id"] == peon and got["role"] == "viewer"
    trail = engine.audit(action="LOGIN_AS").collect()
    assert any(boss in r["details"] and peon in r["details"] for r in trail)

    with pytest.raises(PermissionError):
        engine.login_as(peon, boss)  # viewer cannot impersonate
    engine.set_user_active(peon, False)
    with pytest.raises(ValueError, match="unavailable"):
        engine.login_as(boss, peon)
