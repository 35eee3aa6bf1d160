"""Embedding providers (U1, SURVEY.md §2.9).

The reference's factory (internal/embeddings/embeddings.go:11-57)
selects mock / OpenAI / Ollama by env; only the mock is deterministic
and is what all correctness tests bind to. Formula
(internal/embeddings/mock.go:28-58):

    seed  = FNV-32a(text)                  # 32-bit unsigned
    v[i]  = sin(seed * (i+1) * 0.1)        # i in [0, dim)
    v     = v / ||v||2                     # L2-normalize

Implemented as an Arrow-batched pandas UDF: the per-text seed is a
cheap byte loop, the dim-384 sin/normalize is vectorized numpy over
the whole batch — no per-row Python in the vector math.

Real providers (OpenAI / Ollama analogs) slot in through the same
factory as batched HTTP pandas UDFs (``make_http_embedder``): the
transport is injectable so tests exercise the batching/shape contract
with a stub, and no network call ever happens in the default (mock)
configuration — mirroring the reference, where only the mock is the
tested path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from the_hive_spark.schemas import EMBEDDING_DIM

FNV_OFFSET = 2166136261
FNV_PRIME = 16777619
_MASK32 = 0xFFFFFFFF


def fnv32a(text: str) -> int:
    """FNV-1a 32-bit hash of the UTF-8 bytes (matches Go's hash/fnv)."""
    h = FNV_OFFSET
    for b in text.encode("utf-8"):
        h ^= b
        h = (h * FNV_PRIME) & _MASK32
    return h


def mock_embedding_np(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Single-text reference implementation (the test oracle)."""
    seed = fnv32a(text)
    i = np.arange(1, dim + 1, dtype=np.float64)
    v = np.sin(seed * i * 0.1)
    n = np.linalg.norm(v)
    if n > 0:
        v = v / n
    return v.astype(np.float32)


def make_mock_embedder(dim: int = EMBEDDING_DIM):
    """Vectorized pandas UDF: text column → array<float> embedding."""

    @pandas_udf(ArrayType(FloatType()))
    def mock_embed(texts: pd.Series) -> pd.Series:
        seeds = np.fromiter(
            (fnv32a(t) if t is not None else 0 for t in texts),
            dtype=np.float64,
            count=len(texts),
        )
        i = np.arange(1, dim + 1, dtype=np.float64)
        # outer product: every row's full vector in one vectorized op
        m = np.sin(seeds[:, None] * i[None, :] * 0.1)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        np.divide(m, norms, out=m, where=norms > 0)
        m32 = m.astype(np.float32)
        return pd.Series(list(m32))

    return mock_embed


_TOKEN_RE = None  # lazily-compiled


def _tokens(text: str) -> list[str]:
    global _TOKEN_RE
    if _TOKEN_RE is None:
        import re

        _TOKEN_RE = re.compile(r"[a-z0-9]+")
    return _TOKEN_RE.findall(text.lower())


def bow_embedding_np(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Deterministic bag-of-words hash embedding (single-text oracle).

    Each token contributes sin(fnv32a(token) * i * 0.1); the sum is
    L2-normalized. Unlike the reference's whole-text mock (F5), shared
    tokens ⇒ correlated vectors, so top-k search is semantically
    meaningful while staying fully deterministic — a documented
    deviation (the reference's golden search relies on a real provider;
    its mock is only reproducible, not meaningful).
    """
    i = np.arange(1, dim + 1, dtype=np.float64)
    v = np.zeros(dim, dtype=np.float64)
    for t in _tokens(text or ""):
        v += np.sin(fnv32a(t) * i * 0.1)
    n = np.linalg.norm(v)
    if n > 0:
        v = v / n
    return v.astype(np.float32)


def make_bow_embedder(dim: int = EMBEDDING_DIM):
    """Vectorized pandas UDF for the bag-of-words hash embedding.

    Token seed-vectors are memoized per batch (Zipf reuse) and the
    sin() matrix math is numpy over the whole batch vocabulary."""

    @pandas_udf(ArrayType(FloatType()))
    def bow_embed(texts: pd.Series) -> pd.Series:
        i = np.arange(1, dim + 1, dtype=np.float64)
        cache: dict[str, np.ndarray] = {}
        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float64)
            for tok in _tokens(t or ""):
                tv = cache.get(tok)
                if tv is None:
                    tv = np.sin(fnv32a(tok) * i * 0.1)
                    cache[tok] = tv
                v += tv
            n = np.linalg.norm(v)
            if n > 0:
                v = v / n
            out.append(v.astype(np.float32))
        return pd.Series(out)

    return bow_embed


# --- real-provider seam (U1/U2 config surface) -----------------------
#
# The reference's factory (internal/embeddings/embeddings.go:11-57)
# selects the provider from env and each provider carries its own
# dimension (mock 384, ollama 768, openai 1536 — embeddings.go:45-49,
# ollama.go:24, openai.go:26-33). The network providers are EmbedBatch
# HTTP calls (openai.go:63) — which is exactly the pandas-UDF batch
# shape, so a provider here is one POST per Arrow batch.

PROVIDER_DIMS = {"mock": EMBEDDING_DIM, "bow": EMBEDDING_DIM,
                 "openai": 1536, "ollama": 768}


def _default_transport(url: str, payload: dict) -> dict:
    """POST JSON → parsed-JSON response (stdlib-only; no retries — the
    Spark task retry is the retry loop at cluster scale)."""
    import json
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def make_http_embedder(
    endpoint: str,
    model: str,
    dim: int,
    transport=None,
):
    """Batched HTTP embedding provider (openai.go:24-130 / ollama.go:
    22-107 analog): one POST per Arrow batch with the OpenAI-style
    request/response shape ``{"model", "input": [...]}`` →
    ``{"data": [{"embedding": [...]}, ...]}``.

    ``transport(url, payload) -> dict`` is injectable so the batching
    contract is unit-testable without a network; the default transport
    is a stdlib urllib POST. Vectors are validated to ``dim`` and
    zero-filled for null/empty texts (F6 fallback semantics).
    """
    send = transport or _default_transport

    @pandas_udf(ArrayType(FloatType()))
    def http_embed(texts: pd.Series) -> pd.Series:
        out: list[np.ndarray] = [None] * len(texts)
        idx = [i for i, t in enumerate(texts) if t]
        if idx:
            resp = send(endpoint, {"model": model, "input": [texts.iloc[i] for i in idx]})
            vecs = [d["embedding"] for d in resp["data"]]
            if len(vecs) != len(idx):
                raise ValueError(
                    f"embedding provider returned {len(vecs)} vectors "
                    f"for {len(idx)} inputs"
                )
            for i, v in zip(idx, vecs):
                a = np.asarray(v, dtype=np.float32)
                if a.shape != (dim,):
                    raise ValueError(
                        f"embedding provider returned dim {a.shape} != ({dim},)"
                    )
                out[i] = a
        zero = np.zeros(dim, dtype=np.float32)
        return pd.Series([v if v is not None else zero for v in out])

    return http_embed


PROVIDERS = {"mock": make_mock_embedder, "bow": make_bow_embedder}


def make_embedder(
    provider: str | None = None,
    dim: int | None = None,
    endpoint: str | None = None,
    model: str | None = None,
    transport=None,
):
    """U1 provider factory (embeddings.go:11-57 analog).

    Selection: explicit ``provider`` arg, else the
    ``HIVE_SPARK_EMBED_PROVIDER`` env var, else the deterministic
    default (``bow``). Deterministic providers (mock/bow) are the
    tested correctness path; ``openai``/``ollama`` build the batched
    HTTP UDF against ``HIVE_SPARK_EMBED_ENDPOINT`` /
    ``HIVE_SPARK_EMBED_MODEL`` with the provider's native dimension —
    config-gated and untested for equality, exactly like the
    reference's network providers.
    """
    import os

    provider = provider or os.environ.get("HIVE_SPARK_EMBED_PROVIDER", "bow")
    dim = dim or PROVIDER_DIMS.get(provider, EMBEDDING_DIM)
    if provider in PROVIDERS:
        return PROVIDERS[provider](dim)
    if provider in ("openai", "ollama"):
        endpoint = endpoint or os.environ.get("HIVE_SPARK_EMBED_ENDPOINT")
        if not endpoint:
            raise ValueError(
                f"provider '{provider}' needs an endpoint "
                "(HIVE_SPARK_EMBED_ENDPOINT)"
            )
        model = model or os.environ.get(
            "HIVE_SPARK_EMBED_MODEL",
            "text-embedding-3-small" if provider == "openai" else "nomic-embed-text",
        )
        return make_http_embedder(endpoint, model, dim, transport=transport)
    raise ValueError(f"unknown embedding provider: {provider}")
