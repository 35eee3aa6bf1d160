"""Exact top-k cosine over the ``chunks`` table's live files, on the driver.

``HiveEngine.search`` and ``chat`` rank from here, and the analyst
reactions (``evaluate_rules``, ``evaluate_rules_cross_doc`` and the
batch path of ``contradiction_candidates``) read their chunks and rank
document neighbors here; none of them launches a Spark job. The index
caches the rows of each published parquet file under the file's
relative path. Files are immutable and their names are unique,
so a loaded file never changes: a query loads only the listed files it
has not seen, with pyarrow, and drops the files no longer listed.

Scores are bit-identical to ``operators.similarity.cosine``. Spark folds
the dot product and each squared norm left to right, one float64
product and one float64 sum per component
(``aggregate(zip_with(...))``); ``_fold`` runs that same fold for every
row at once, one component at a time. numpy's pairwise ``sum`` and BLAS
``dot`` round differently. A score is null where Spark's is: a null
embedding, a null component, a length other than the query's (the
shorter side reads as nulls in ``zip_with``) or a zero norm on either
side (``try_divide``). Ranking is score descending, nulls last, then
chunk id ascending, the order of Spark's ``orderBy(desc(score),
asc(chunk_id))``; document neighbors break ties by target document id
instead.

Memory is one float32 matrix of every live chunk (n × dim × 4 B) plus
the chunk rows without their embeddings. Corpora past driver memory
need an approximate index (``functions/lsh.py``, ``functions/pq.py``);
none is wired in.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import NamedTuple
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from the_hive_spark.schemas import CHUNKS

# the chunk columns a hit returns, besides its tenant and score
_COLS = ["id", "document_id", "content", "chunk_index", "tags"]
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# query-candidate pairs one fold covers (two float64 buffers of this size)
_PAIR_BLOCK = 1 << 20
# the rows a file yields: its _COLS, then the tenant its directory names
_SCHEMA = pa.schema([
    to_arrow_schema(CHUNKS).field(c) for c in _COLS + ["organization_id"]
])


class _Rows(NamedTuple):
    """Chunk rows with their vectors, row-aligned."""

    rows: pa.Table  # _COLS + organization_id
    ids: np.ndarray  # chunk ids, for the tie order
    emb: np.ndarray  # (n, dim) float32, column-major
    norm: np.ndarray  # (n,) float64
    ok: np.ndarray  # (n,) a dim-long embedding with no null component
    vec: np.ndarray  # (n,) a non-null embedding

    def slice(self, s: int, e: int) -> _Rows:
        return _Rows(self.rows.slice(s, e - s), *(a[s:e] for a in self[1:]))


@dataclass(frozen=True)
class _View:
    """The rows of one list of live files. Never mutated: a query keeps
    using the view it took while the next commit builds another."""

    files: tuple[str, ...]
    where: dict[str, tuple[int, int]]  # file -> its row range
    tenants: dict[str | None, tuple[int, int]]  # tenant -> its row range
    data: _Rows

    def top_k(
        self, q: np.ndarray, k: int, organization_id: str | None
    ) -> tuple[pa.Table, np.ndarray, np.ndarray]:
        """The top ``k`` rows for query vector ``q`` (all tenants when
        ``organization_id`` is None), their scores and a mask of the
        null ones. Tenant "" is the default partition's, which reads
        back as null."""
        d = self.data
        s, e = (
            (0, len(d.ids)) if organization_id is None
            else self.tenants.get(organization_id or None, (0, 0))
        )
        q64 = q.astype(np.float64)
        den = d.norm[s:e] * np.sqrt(_fold(q64[None, :], q64)[0])
        null = ~d.ok[s:e] | (den == 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            score = _fold(d.emb[s:e], q64) / den
        order = np.lexsort((d.ids[s:e], _desc(score, null), null))[:k]
        return d.rows.take(s + order), score[order], null[order]

    def neighbors(
        self, src: np.ndarray, cand: np.ndarray, k: int
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """For each document of the rows ``src``, the ``k`` rows of
        ``cand`` from other documents nearest to it, ranked as Spark's
        window ``orderBy(desc(score), asc(target document_id))`` over
        ``cosine(source, target)`` ranks them. A document with rows in
        several tenants ranks the union of their pairs; a row with a
        null document_id pairs with nothing. Returns the source row,
        target row, score and null mask of each pair, grouped by source
        document in id order. Sources are folded a block at a time, each
        block against every candidate."""
        d = self.data
        docs = d.rows["document_id"]
        src, cand = (
            r[docs.take(r).is_valid().to_numpy(zero_copy_only=False)] for r in (src, cand)
        )
        # each document id as its rank among them: equal ids, equal codes
        code = np.unique(np.array(
            docs.take(np.concatenate([src, cand])).to_pylist(), dtype=str
        ), return_inverse=True)[1]
        scode, ccode = code[:len(src)], code[len(src):]
        e = np.asfortranarray(d.emb[cand])
        step = max(1, _PAIR_BLOCK // max(len(cand), 1))
        pairs = [(np.empty(0, int), np.empty(0, int), np.empty(0), np.empty(0, bool))]
        for b in range(0, len(src) if k > 0 else 0, step):
            rows = src[b:b + step]
            den = d.norm[rows, None] * d.norm[cand]
            null = ~d.ok[rows, None] | ~d.ok[cand] | (den == 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = _fold(d.emb[rows][:, None], e[None]) / den
            same = scode[b:b + step, None] == ccode
            keys = (np.broadcast_to(ccode, score.shape), _desc(score, null), null, same)
            top = np.lexsort(keys, axis=1)[:, :k]
            i, j = np.nonzero(~np.take_along_axis(same, top, axis=1))
            t = top[i, j]
            pairs.append((b + i, t, score[i, t], null[i, t]))
        si, ti, score, null = (np.concatenate(p) for p in zip(*pairs))
        # rank again within each source document, which merges its rows
        order = np.lexsort((ccode[ti], _desc(score, null), null, scode[si]))
        grp = scode[si][order]
        first = np.ones(len(grp), bool)
        first[1:] = grp[1:] != grp[:-1]
        start = np.maximum.accumulate(np.where(first, np.arange(len(grp)), 0))
        keep = order[np.arange(len(grp)) - start < k]
        return src[si[keep]], cand[ti[keep]], score[keep], null[keep]


class ChunkIndex:
    """Per-file cache of the chunks table at ``root`` (one tenant
    partition directory per file), for query vectors of ``dim``."""

    def __init__(self, root: str, dim: int) -> None:
        self.root = root
        self.dim = dim
        self._lock = threading.Lock()
        self._view = _build((), {}, dim)

    def view(self, files: list[str]) -> _View:
        """The view of ``files``, the live list a manifest names. Raises
        FileNotFoundError when one of them has been deleted since."""
        with self._lock:
            if tuple(files) != self._view.files:
                old = self._view
                self._view = _build(tuple(files), {
                    f: old.data.slice(*old.where[f]) if f in old.where else self._load(f)
                    for f in files
                }, self.dim)
            return self._view

    def _load(self, rel: str) -> _Rows:
        t = pq.ParquetFile(os.path.join(self.root, rel)).read(columns=_COLS + ["embedding"])
        n = t.num_rows
        emb = t.column("embedding").combine_chunks()
        ok = pc.fill_null(pc.list_value_length(emb), -1).to_numpy() == self.dim
        vals = emb.filter(pa.array(ok)).flatten()
        if vals.null_count:
            ok[ok] = ~vals.is_null().to_numpy(zero_copy_only=False).reshape(-1, self.dim).any(axis=1)
            vals = emb.filter(pa.array(ok)).flatten()
        m = np.zeros((n, self.dim), np.float32, order="F")
        m[ok] = vals.to_numpy().reshape(-1, self.dim)
        rows = t.drop_columns(["embedding"]).append_column(
            "organization_id", pa.array([_tenant(rel)] * n, pa.string())
        )
        return _Rows(
            rows, np.array(t.column("id").to_pylist(), dtype=str), m,
            np.sqrt(_fold(m, m)), ok, emb.is_valid().to_numpy(zero_copy_only=False),
        )


def _build(files: tuple[str, ...], parts: dict[str, _Rows], dim: int) -> _View:
    # sorted paths keep each partition directory's files, so each
    # tenant's rows, together
    order = sorted(parts)
    where, tenants, at = {}, {}, 0
    for f in order:
        n = parts[f].rows.num_rows
        where[f] = (at, at + n)
        t = _tenant(f)
        tenants[t] = (tenants.get(t, (at, at))[0], at + n)
        at += n
    none = _Rows(
        _SCHEMA.empty_table(), np.empty(0, str), np.empty((0, dim), np.float32),
        np.empty(0), np.empty(0, bool), np.empty(0, bool),
    )
    ps = [parts[f] for f in order] + [none]
    emb = np.empty((at, dim), np.float32, order="F")
    return _View(files, where, tenants, _Rows(
        pa.concat_tables([p.rows for p in ps]),
        *(np.concatenate([p[i] for p in ps], out=emb if i == 2 else None)
          for i in range(1, 6)),
    ))


def _desc(score: np.ndarray, null: np.ndarray) -> np.ndarray:
    """An ascending sort key for score descending: Spark sorts NaN above
    every number; null scores tie (they sort last on the null mask)."""
    return np.where(null, 0.0, np.where(np.isnan(score), -np.inf, -score))


def _tenant(rel: str) -> str | None:
    """The organization_id of a file, read from its partition directory
    as Spark reads it: the default partition is null."""
    value = os.path.dirname(rel).partition("=")[2]
    return None if value == _DEFAULT_PARTITION else unquote(value)


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """sum_j a[..., j] * b[..., j] folded left to right in float64, as
    Spark's ``aggregate(zip_with(a, b, x * y), 0D, acc + v)`` does. The
    leading axes of ``a`` and ``b`` broadcast: rows against one vector,
    rows against rows, or a block of queries (``q[:, None]``) against
    rows (``e[None]``); every element keeps the same fold."""
    shape = np.broadcast_shapes(a.shape[:-1], b.shape[:-1])
    acc = np.zeros(shape)
    prod = np.empty(shape)
    for j in range(a.shape[-1]):
        np.multiply(a[..., j], b[..., j], out=prod, dtype=np.float64)
        np.add(acc, prod, out=acc)
    return acc
