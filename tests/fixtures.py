"""Seeder-parity fixtures (cmd/seeder/main.go:30-159, FIXTURES.md).

Five markdown docs with unique searchable phrases — the golden top-1
search queries — plus the integration-test CONFIDENTIAL document."""

from __future__ import annotations

SEED_DOCS: dict[str, str] = {
    "project_alpha.md": (
        "# Project Alpha\n\nProject Alpha confidential report. "
        "This document describes the next-generation propulsion system. "
        "The quarterly budget allocation is under review by the steering committee."
    ),
    "beta_analysis.md": (
        "# Beta Analysis\n\nBeta analysis quarterly results. "
        "Revenue grew by twelve percent across all segments. "
        "Customer churn decreased for the third consecutive quarter."
    ),
    "gamma_protocol.md": (
        "# Gamma Protocol\n\nGamma protocol implementation guide. "
        "Follow these steps to deploy the secure messaging layer. "
        "All nodes must rotate certificates every ninety days."
    ),
    "delta_research.md": (
        "# Delta Research\n\nDelta research findings summary. "
        "The experiment confirmed the hypothesis with high statistical significance. "
        "Further trials are scheduled for the coming months."
    ),
    "epsilon_design.md": (
        "# Epsilon Design\n\nEpsilon design document architecture. "
        "The system uses a layered hexagonal architecture with ports and adapters. "
        "Event sourcing captures every state transition."
    ),
}

GOLDEN_QUERIES: dict[str, str] = {
    "Project Alpha confidential report": "project_alpha.md",
    "Beta analysis quarterly results": "beta_analysis.md",
    "Gamma protocol implementation guide": "gamma_protocol.md",
    "Delta research findings summary": "delta_research.md",
    "Epsilon design document architecture": "epsilon_design.md",
}

CONFIDENTIAL_DOC = (
    "test_confidential.txt",
    "This document contains CONFIDENTIAL pricing information for Q4 2025.",
)

ALERT_RULE = "Does this document contain confidential pricing information?"


def seed_files(spark, org: str = "org1"):
    """files DataFrame in INGEST_FILES shape."""
    from the_hive_spark.schemas import INGEST_FILES

    rows = [
        (f"/watch/{name}", text, org, {"filetype": name.rsplit(".", 1)[-1]})
        for name, text in SEED_DOCS.items()
    ]
    return spark.createDataFrame(rows, INGEST_FILES)


def jobs_in(spark, group, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
