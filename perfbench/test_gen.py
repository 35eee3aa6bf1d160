"""Smoke test of the benchmark's input generator: one seed gives
byte-identical inputs twice, and another seed gives other inputs.
Needs no Spark session.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, workloads  # noqa: E402


def _ingest_files(seed: int) -> list[tuple[str, bytes]]:
    base_files, _, batches = workloads.ingest_inputs(seed)
    return base_files + [f for files, _ in batches for f in files]


def test_ingest_inputs_repeat_per_seed():
    first = _ingest_files(5)
    assert first == _ingest_files(5)
    assert {name.rsplit(".", 1)[1] for name, _ in first} == set(gen.FORMATS)
    assert first != _ingest_files(6)


def test_ingest_expectations_cover_keywords_and_chunks():
    _, base_expect, batches = workloads.ingest_inputs(5)
    expect = base_expect + [e for _, ex in batches for e in ex]
    assert any(e["rule_hit"] for e in expect)
    assert any(e["chunks"] > 1 for e in expect)
    phrases = [e["doc"].phrase for e in expect]
    assert len(set(phrases)) == len(phrases)


def test_serve_inputs_repeat_per_seed():
    first = workloads.serve_inputs(5)
    assert first == workloads.serve_inputs(5)
    assert first != workloads.serve_inputs(6)


def test_analytics_tables_repeat_per_seed(tmp_path):
    def files(seed: int, sub: str) -> dict[str, bytes]:
        out = tmp_path / sub
        gen.write_tables(str(out), seed, 0.05)
        return {p.name: p.read_bytes() for p in sorted(out.iterdir())}

    first = files(5, "a")
    assert first == files(5, "b")
    assert first != files(6, "c")
