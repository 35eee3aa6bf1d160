"""Round plan-health report: one markdown table of plan_summary() for
every headline (and extended) bench query, so each round's BENCH JSON
ships with the physical-plan evidence behind it.

Usage: ``python -m the_hive_spark.plans.report [out_md] [sf_dir]``
(defaults: PLANS.md, /root/testdata/sf0.01). Judges/reviewers read the
table; regressions show up as a shuffle-count or join-strategy diff in
git history.
"""

from __future__ import annotations

import sys


def main() -> None:
    from the_hive_spark import registry
    from the_hive_spark.plans.inspect import plan_summary
    from the_hive_spark.session import get_spark

    out_md = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import bench  # repo-root module: the canonical headline list

    registry.load_all()
    spark = get_spark(app_name="plans-report")

    lines = [
        "# Plan health — headline + extended bench queries",
        "",
        f"Generated by `python -m the_hive_spark.plans.report` at `{sf_dir}`.",
        "Initial (pre-AQE-finalization) physical plans; the numbers that",
        "matter at 100 TB: shuffle count (`exch`), join strategies (bhj =",
        "broadcast, smj = sort-merge, cart = cartesian), `TakeOrdered` for",
        "top-k, codegen span count, and scan count.",
        "",
        "| query | exch | bhj | smj | shj | cart | bnlj | topk | codegen | scans |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE + bench.EXTENDED:
        if name not in registry.QUERIES:
            continue
        try:
            s = plan_summary(registry.QUERIES[name](spark, sf_dir))
            lines.append(
                f"| {name} | {s['exchanges']} | {s['broadcast_hash_joins']} "
                f"| {s['sort_merge_joins']} | {s['shuffled_hash_joins']} "
                f"| {s['cartesian_products']} | {s['broadcast_nested_loop_joins']} "
                f"| {'✓' if s['take_ordered'] else ''} | {s['codegen_spans']} "
                f"| {s['scans']} |"
            )
        except Exception as exc:  # noqa: BLE001 — report must always complete
            lines.append(f"| {name} | ERROR: {type(exc).__name__} | | | | | | | | |")

    # --- hive parity surface (registry hive_* family) ---------------
    hive_names = sorted(n for n in registry.QUERIES if n.startswith("hive_"))
    lines += [
        "",
        "## Hive parity surface (`hive_*` registry queries)",
        "",
        "The reference's user-facing lifecycles (search/chat/audit/",
        "timeline/stats/liveness). `bcast-bounded ✓` = every broadcast",
        "subtree is row-bounded (a TakeOrdered/Limit or scan-free 1-row",
        "aggregate) — the assertion that catches a corpus-side hint.",
        "",
        "| query | exch | bhj | smj | cart | bnlj | topk | bcast-bounded |",
        "|---|---|---|---|---|---|---|---|",
    ]
    from the_hive_spark.plans.inspect import broadcast_subtrees

    def _bounded(df) -> str:
        """✓ = every broadcast subtree is PROVABLY row-bounded (a
        TakeOrdered/Limit, a scan-free local relation, or a grand
        scalar aggregate `HashAggregate(keys=[]…)` which is 1 row by
        construction). `aqe` = at least one broadcast was chosen by
        size estimation over an unbounded relation — legitimate (AQE
        re-decides at scale; the static hygiene test proves no hard
        hint forces it), but worth seeing in the report."""
        import re as _re

        verdict = "✓"
        for sub in broadcast_subtrees(df):
            scans = _re.findall(r"ReadSchema: (\S+)", sub)
            if not scans:
                continue
            if "TakeOrderedAndProject" in sub or "Limit" in sub:
                continue
            # a no-key (grand) aggregate anywhere on the broadcast's
            # spine is a 1-row relation regardless of its input size
            if _re.search(r"HashAggregate\(keys=\[\]", sub) or _re.search(
                r"SortAggregate\(key=\[\]", sub
            ):
                continue
            verdict = "aqe"
        return verdict

    for name in hive_names:
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            s = plan_summary(df)
            lines.append(
                f"| {name} | {s['exchanges']} | {s['broadcast_hash_joins']} "
                f"| {s['sort_merge_joins']} | {s['cartesian_products']} "
                f"| {s['broadcast_nested_loop_joins']} "
                f"| {'✓' if s['take_ordered'] else ''} | {_bounded(df)} |"
            )
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(exc).__name__} | | | | | | |")

    # --- HiveEngine method surface (seeded tmp warehouse) ------------
    lines += [
        "",
        "## HiveEngine method surface (seeded warehouse)",
        "",
        "| method | exch | bhj | smj | cart | bnlj | topk | bcast-bounded |",
        "|---|---|---|---|---|---|---|---|",
    ]
    try:
        import tempfile

        from the_hive_spark.engine import HiveEngine
        from tests.fixtures import seed_files

        with tempfile.TemporaryDirectory() as tmp:
            eng = HiveEngine(spark, tmp + "/wh", embedding_dim=16)
            eng.ingest_batch(seed_files(spark))
            some_doc = eng.read_table("documents").limit(1).collect()[0]["id"]
            # search, chat and the contradiction batch path rank on the
            # driver over the chunk index and return local relations:
            # there is no Spark plan to show
            for name, fn in (
                ("search", lambda: eng.search("alpha", audit=False)),
                ("chat", lambda: eng.chat("alpha")),
                ("contradiction_batch", lambda: eng.contradiction_candidates(
                    new_doc_ids=[some_doc])),
            ):
                n = len(fn().collect())
                lines.append(
                    f"| {name} | local relation ({n} rows, driver-side"
                    " chunk index, no Spark job) | | | | | | |"
                )
            surface = {
                "contradiction_sweep": lambda: eng.contradiction_candidates(),
                "integrity_report": lambda: eng.integrity_report(),
                "timeline": lambda: eng.timeline(limit=20),
                "audit": lambda: eng.audit(limit=20),
            }
            for name, fn in surface.items():
                try:
                    df = fn()
                    s = plan_summary(df)
                    lines.append(
                        f"| {name} | {s['exchanges']} "
                        f"| {s['broadcast_hash_joins']} "
                        f"| {s['sort_merge_joins']} | {s['cartesian_products']} "
                        f"| {s['broadcast_nested_loop_joins']} "
                        f"| {'✓' if s['take_ordered'] else ''} "
                        f"| {_bounded(df)} |"
                    )
                except Exception as exc:  # noqa: BLE001
                    lines.append(
                        f"| {name} | ERROR: {type(exc).__name__} | | | | | | |"
                    )
    except Exception as exc:  # noqa: BLE001 — report must always complete
        lines.append(f"| (engine setup failed: {type(exc).__name__}) | | | | | | | |")

    with open(out_md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_md} ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
