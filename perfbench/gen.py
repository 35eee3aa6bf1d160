"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files, texts and tables. The program under test only
ever sees the generated inputs.

- ``CorpusGen``: documents for the drone (``ingest``) and user
  (``serve``) paths: Zipf vocabulary, lognormal lengths (a share spans
  several 1000-char chunks), ~3% of sentences carrying rule or tag
  keywords, and one unique planted phrase per document.
- ``render_file``: one document as a txt/md/html/eml/docx/pdf/xlsx
  file, built with ``tests/docgen.py``.
- ``write_tables``: TPC-H-ish analytics tables (region ... embeddings)
  in the schema of the registry queries, for the analyst operators.
"""

from __future__ import annotations

import io
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

from tests import docgen

FORMATS = ("txt", "md", "html", "eml", "docx", "pdf", "xlsx")

# Keywords the engine reacts to (engine.RULE_FALLBACK_KEYWORDS and
# engine.TAG_FALLBACK_KEYWORDS); vocabulary words never contain them.
RULE_KEYWORDS = ("confidential", "pricing", "secret")
TAG_KEYWORDS = ("legal", "finance", "urgent", "proposal")
_RESERVED = RULE_KEYWORDS + TAG_KEYWORDS + ("alert",)

_ONSETS = ("b", "br", "d", "dr", "f", "g", "gl", "h", "k", "l", "m", "n",
           "p", "pl", "r", "s", "st", "t", "tr", "v", "w")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "n", "r", "s", "t", "l", "m", "nd", "rk")


def vocabulary(size: int = 600) -> list[str]:
    """A fixed pseudo-English vocabulary (the same for every seed).

    Words use no 'q', 'x' or digits, so planted tokens can never
    collide with them."""
    rng = np.random.default_rng(7)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w in seen or any(k in w for k in _RESERVED):
            continue
        seen.add(w)
        words.append(w)
    return words


@dataclass
class Doc:
    name: str  # file name, unique within a corpus
    text: str  # body text, before any file format wraps it
    phrase: str  # unique planted phrase (the freshness/golden query)
    organization_id: str
    fmt: str = "txt"
    sentences: list[str] = field(default_factory=list)


class CorpusGen:
    """Documents and query text drawn from one seeded stream."""

    def __init__(self, seed: int, zipf_a: float = 0.8) -> None:
        self.rng = np.random.default_rng(seed)
        self.vocab = vocabulary()
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks ** -zipf_a
        self.word_p = p / p.sum()
        self._planted: set[str] = set()

    def words(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, p=self.word_p)
        return [self.vocab[i] for i in idx]

    def sentence(self) -> str:
        ws = self.words(int(self.rng.integers(8, 17)))
        r = self.rng.random()
        if r < 0.015:
            ws.insert(int(self.rng.integers(len(ws))), str(self.rng.choice(RULE_KEYWORDS)))
        elif r < 0.03:
            ws.insert(int(self.rng.integers(len(ws))), str(self.rng.choice(TAG_KEYWORDS)))
        ws[0] = ws[0].capitalize()
        return " ".join(ws) + "."

    def planted_phrase(self) -> str:
        alphabet = np.array(list("qxz0123456789"))
        while True:
            phrase = " ".join(
                "q" + "".join(self.rng.choice(alphabet, 5)) for _ in range(6)
            )
            if phrase not in self._planted:
                self._planted.add(phrase)
                return phrase

    def doc(self, name: str, organization_id: str, fmt: str = "txt") -> Doc:
        n_sent = max(2, int(round(self.rng.lognormal(np.log(9.0), 0.8))))
        sents = [self.sentence() for _ in range(n_sent)]
        phrase = self.planted_phrase()
        # The planted phrase sits in its own sentence at a random spot,
        # repeated so that it outweighs the chunk's other words under
        # the bag-of-words embedding and is its document's top-1 hit.
        sents.insert(
            int(self.rng.integers(len(sents) + 1)),
            f"Reference {phrase}, {phrase}, {phrase}.",
        )
        paras, cur = [], []
        for s in sents:
            cur.append(s)
            if self.rng.random() < 0.25:
                paras.append(" ".join(cur))
                cur = []
        if cur:
            paras.append(" ".join(cur))
        text = "\n\n".join(paras)
        return Doc(
            name=name,
            text=text,
            phrase=phrase,
            organization_id=organization_id,
            fmt=fmt,
            sentences=sents,
        )

    def zipf_index(self, n: int, a: float = 1.2) -> int:
        """A rank in [0, n) drawn with Zipf skew (rank 0 most likely)."""
        ranks = np.arange(1, n + 1, dtype=np.float64)
        p = ranks ** -a
        return int(self.rng.choice(n, p=p / p.sum()))


def _fixed_zip(data: bytes) -> bytes:
    """Re-pack a zip with fixed member timestamps: zipfile stamps each
    member with the wall clock, which would make inputs differ per run."""
    src = zipfile.ZipFile(io.BytesIO(data))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=(1980, 1, 1, 0, 0, 0))
            fixed.compress_type = info.compress_type
            dst.writestr(fixed, src.read(info.filename))
    return out.getvalue()


def render_file(doc: Doc, rng: np.random.Generator) -> bytes:
    """The document as bytes of its format (docgen for binary formats)."""
    paras = doc.text.split("\n\n")
    if doc.fmt in ("txt", "md"):
        head = "# Note\n\n" if doc.fmt == "md" else ""
        return (head + doc.text).encode()
    if doc.fmt == "html":
        body = "\n".join(f"<p>{p}</p>" for p in paras)
        return (
            "<html><head><style>p { margin: 0 }</style></head>"
            f"<body>\n{body}\n</body></html>"
        ).encode()
    if doc.fmt == "eml":
        day = int(rng.integers(1, 28))
        return docgen.make_eml(
            subject="Field report",
            sender_name="Drone Operator",
            sender_addr="drone@example.com",
            date_rfc2822=f"Mon, {day:02d} Jan 2024 10:00:00 +0000",
            body=doc.text,
        )
    if doc.fmt == "docx":
        return _fixed_zip(docgen.make_docx(paras))
    if doc.fmt == "pdf":
        return docgen.make_pdf(doc.sentences)
    if doc.fmt == "xlsx":
        rows: list[list[object]] = [["note"]] + [[s] for s in doc.sentences]
        return _fixed_zip(docgen.make_xlsx({"Notes": rows}))
    raise ValueError(f"unknown format {doc.fmt}")


# ------------------------------------------------------------ analytics


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "hot", "old", "small", "large", "green", "dark"]
_NOUNS = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "pipe"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]


def _days(start: str, n: int, rng: np.random.Generator, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def analytics_tables(seed: int, scale: float) -> dict:
    """TPC-H-ish tables as pyarrow Tables; scale 1.0 is 60k lineitem rows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(25, int(100 * scale)), int(2000 * scale)
    n_ord, n_li = int(15000 * scale), int(60000 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), int(500 * scale), int(500 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days("1995-01-01", n_ord, rng, 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(_days("1995-01-02", n_li, rng, 2498), pa.timestamp("us")),
    })
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.lognormal(3.0, 1.0, n_ev).clip(0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.03:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(len(texts)))])
            continue
        n_w = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(_DOC_WORDS, n_w)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytics_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
