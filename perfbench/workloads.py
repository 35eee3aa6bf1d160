"""The benchmark workloads: ``ingest``, ``serve`` and ``analytics``.

Each runs one closed-loop client against the public API (HiveEngine,
streaming.watch.watch, registry.QUERIES): set-up first (untimed), then
operations until ``seconds`` have passed, then the correctness checks.
A failed operation or a failed check counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.trace import instrument_engine

# ingest: a seeded base the first (untimed) trigger builds, then timed
# batches of newly landed files
INGEST_BASE_DOCS = 40
INGEST_BATCH_DOCS = 25
INGEST_MAX_BATCHES = 8
ACTIVE_RULES = {
    1: "Does this document contain confidential pricing information?",
    2: "Flag any secret material.",
}
INGEST_ORG = "drones"

# serve: one warehouse of tenants, then a seeded mix of user operations
SERVE_DOCS = 600
SERVE_TENANTS = 8
SERVE_MIX = (("search", 12), ("chat", 4), ("views", 1), ("analyst", 3))  # per 20 ops
SERVE_SESSIONS = 12
SEARCH_K, CHAT_K, TIMELINE_N = 3, 5, 20

# analyst queries: the registry's headline set (bench.py HEADLINE)
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_revenue_forecast", "q9_product_profit",
    "q10_returned_items", "q18_large_volume_customers", "q21_waiting_suppliers",
    "q_top_supplier_per_nation", "events_by_type", "events_sessionization",
    "events_funnel", "events_props_histogram", "doc_dedup_exact",
    "doc_bpe_token_stats", "emb_knn_topk",
]
# one headline query per operator module, for the serve mix
SERVE_ANALYST = [
    "q3_shipping_priority", "events_sessionization", "doc_dedup_exact",
    "doc_bpe_token_stats", "emb_knn_topk",
]
TABLES_SCALE = 0.25  # 15k lineitem rows


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory of this run
    tracer: object


@dataclass
class Result:
    workload: str
    latencies: dict[str, list[float]] = field(default_factory=dict)  # seconds
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    measured_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    storage_ratio: float = float("nan")
    throughput: float = float("nan")  # per second, of the workload's unit
    throughput_unit: str = ""
    cpu_s: float = 0.0  # CPU seconds spent on the timed units of work
    units: int = 0  # units of work completed: documents, operations, queries
    t_start: float = 0.0  # the timed window, perf_counter seconds
    t_end: float = 0.0

    setup_phases: dict[str, float] = field(default_factory=dict)
    scanned: list[int] = field(default_factory=list)  # tenant chunk rows per search

    def phase(self, name: str, since: float) -> None:
        """Record a set-up phase that began at perf_counter ``since``."""
        self.setup_phases[name] = time.perf_counter() - since

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def lat(self, kind: str, seconds: float) -> None:
        self.latencies.setdefault(kind, []).append(seconds)

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr, flush=True)


class Op:
    """Counts one attempted operation; a raise or a failed check inside
    it marks the operation failed (once)."""

    def __init__(self, res: Result, tracer, name: str) -> None:
        self.res, self.tracer, self.name = res, tracer, name
        self.ok = True

    def check(self, cond: bool, msg: str) -> None:
        if not cond:
            self.ok = False
            self.res.problem(f"{self.name}: {msg}")

    def __enter__(self):
        self.res.attempted += 1
        self._op = self.tracer.op(self.name)
        self._op.__enter__()
        return self

    def __exit__(self, et, ev, tb):
        self._op.__exit__(et, ev, tb)
        if et is not None:
            self.ok = False
            self.res.problem(f"{self.name}: {et.__name__}: {ev}")
            traceback.print_exception(et, ev, tb, file=sys.stderr)
        if not self.ok:
            self.res.failed += 1
        return et is not None and issubclass(et, Exception)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name
    (state, ppid, ...), for every process."""
    out: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                out[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def process_tree(stats: dict[int, list[str]]) -> list[int]:
    """Pids in ``stats`` of this process and every process below it."""
    me, out = os.getpid(), []
    for pid in stats:
        p = pid
        while p > 1 and p != me:
            p = int(stats[p][1]) if p in stats else 0
        if p == me:
            out.append(pid)
    return out


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and all its descendants:
    the Spark JVM and its Python workers. Time the host takes from the
    machine does not count, so it moves less than wall time when the
    machine is shared."""
    stats = proc_stats()
    return sum(int(stats[p][11]) + int(stats[p][12]) for p in process_tree(stats)) / _CLK_TCK


def dir_snapshot(root: str) -> dict[str, int]:
    """parquet file path -> size under a warehouse directory."""
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _timed(tracer, name: str, fn):
    with tracer.span(name):
        return fn()


# ------------------------------------------------------------------ ingest


def _land(files: list[tuple[str, bytes]], staging: str, inbox: str) -> None:
    """Write a batch's files next to the watched directory, then move
    them in, so the watch only ever sees complete files."""
    for name, data in files:
        tmp = os.path.join(staging, name)
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(inbox, name))


def _render_batch(g: gen.CorpusGen, docs: list[gen.Doc]):
    """Files plus the expectations the checks need (parsed text, chunk
    count, rule hit) for one batch of generated documents."""
    from the_hive_spark.functions.chunkers import chunk_sentence_py
    from the_hive_spark.sources.dispatch import parse_bytes

    files, expect = [], []
    for d in docs:
        data = gen.render_file(d, g.rng)
        text = parse_bytes(d.name, data)
        missing = [s for s in d.sentences if s not in text]
        if missing:
            raise RuntimeError(f"generator: {d.name} parses without {missing[0]!r}")
        files.append((d.name, data))
        expect.append({
            "doc": d,
            "text": text,
            "chunks": len(chunk_sentence_py(text)),
            "rule_hit": any(k in text.lower() for k in gen.RULE_KEYWORDS),
        })
    return files, expect


def ingest_inputs(seed: int):
    """The ingest workload's files and expectations: a base batch and
    INGEST_MAX_BATCHES timed batches, each (files, expectations)."""
    g = gen.CorpusGen(seed)
    n_docs = INGEST_BASE_DOCS + INGEST_BATCH_DOCS * INGEST_MAX_BATCHES
    docs = [
        g.doc(f"d{i:05d}.{fmt}", INGEST_ORG, fmt)
        for i, fmt in enumerate(g.rng.choice(gen.FORMATS, n_docs))
    ]
    base_files, base_expect = _render_batch(g, docs[:INGEST_BASE_DOCS])
    batches = []
    for b in range(INGEST_MAX_BATCHES):
        lo = INGEST_BASE_DOCS + b * INGEST_BATCH_DOCS
        batches.append(_render_batch(g, docs[lo:lo + INGEST_BATCH_DOCS]))
    return base_files, base_expect, batches


def run_ingest(ctx: Ctx, res: Result) -> float:
    from the_hive_spark.engine import HiveEngine
    from the_hive_spark.streaming.watch import watch

    spark, tr = ctx.spark, ctx.tracer
    t_setup = time.perf_counter()
    base_files, base_expect, batches = ingest_inputs(ctx.seed)
    pick = random.Random(ctx.seed)  # which document of a batch is probed
    res.phase("generate", t_setup)

    inbox, staging = os.path.join(ctx.work, "inbox"), os.path.join(ctx.work, "staging")
    ckpt, wh = os.path.join(ctx.work, "checkpoint"), os.path.join(ctx.work, "warehouse")
    for d in (inbox, staging):
        os.makedirs(d)
    engine = HiveEngine(spark, wh)
    instrument_engine(engine, tr)
    for rid, q in ACTIVE_RULES.items():
        engine.add_rule(rid, q)

    state = {"docs": [], "chunks": 0, "text_bytes": 0, "id_prefix": None}

    def doc_id(name: str) -> str:
        return state["id_prefix"] + name

    def ingest_one(files, expect, op: Op) -> float:
        """Land the files, trigger the watch, run the analyst reactions;
        returns the seconds from landing to the reactions' end."""
        _land(files, staging, inbox)
        t0 = time.perf_counter()
        with tr.span("streaming.trigger"):
            q = watch(engine, inbox, ckpt, organization_id=INGEST_ORG)
            q.awaitTermination()
        progress = q.recentProgress
        if tr.enabled:
            tr.add_jobs(str(q.runId))
        if state["id_prefix"] is None:
            first = expect[0]["doc"].name
            hit = engine.read_table("documents").filter(
                f"id LIKE '%/{first}'").select("id").collect()
            op.check(len(hit) == 1, f"document for {first} not found")
            state["id_prefix"] = hit[0]["id"][: -len(first)] if hit else ""
        ids = spark.createDataFrame(
            [(doc_id(e["doc"].name),) for e in expect], "document_id string")
        jobs0 = tr.job_count()
        t_rules = time.perf_counter()
        engine.evaluate_rules(document_ids=ids)
        res.add("rules.eval_s", time.perf_counter() - t_rules)
        res.add("rules.jobs", tr.job_count() - jobs0)
        t_graph = time.perf_counter()
        pairs = _timed(tr, "graph.contradiction",
                       lambda: engine.contradiction_candidates(new_doc_ids=ids).collect())
        res.add("graph.contradiction_s", time.perf_counter() - t_graph)
        latency = time.perf_counter() - t0
        state["docs"].extend(expect)
        state["chunks"] += sum(e["chunks"] for e in expect)
        state["text_bytes"] += sum(len(e["text"].encode()) for e in expect)
        want = len(expect) * min(5, len(state["docs"]) - 1)
        op.check(len(pairs) == want, f"{len(pairs)} contradiction pairs, want {want}")
        res.add("graph.candidate_pairs", len(pairs))
        for p in progress:
            d = p.get("durationMs", {})
            for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                              ("queryPlanning", "planning_s"), ("walCommit", "wal_commit_s")):
                res.add(f"streaming.{name}", d.get(key, 0) / 1000.0)
            res.add("streaming.input_rows", p.get("numInputRows", 0))
        return latency

    def probes(expect) -> None:
        """Freshness probes a user runs right after a batch lands: the
        batch's planted phrase must already be the top-1 search hit."""
        probe = expect[pick.randrange(len(expect))]
        with Op(res, tr, "search") as op:
            t0 = time.perf_counter()
            hits = _timed(tr, "search.rank", lambda: engine.search(
                probe["doc"].phrase, top_k=SEARCH_K, organization_id=INGEST_ORG).collect())
            lat = time.perf_counter() - t0
            op.check(bool(hits) and hits[0]["document_id"] == doc_id(probe["doc"].name),
                     f"planted phrase of {probe['doc'].name} is not top-1")
            op.check(all(h["organization_id"] == INGEST_ORG for h in hits),
                     "foreign tenant hit")
        if op.ok:
            res.lat("search", lat)
            res.scanned.append(state["chunks"])
        with Op(res, tr, "chat") as op:
            t0 = time.perf_counter()
            chat = _timed(tr, "chat.retrieve", lambda: engine.chat(
                probe["doc"].phrase, top_k=CHAT_K, organization_id=INGEST_ORG).collect())
            lat = time.perf_counter() - t0
            want = min(CHAT_K, state["chunks"])
            op.check(len(chat[0]["citations"]) == want,
                     f"{len(chat[0]['citations'])} citations, want {want}")
        if op.ok:
            res.lat("chat", lat)
        with Op(res, tr, "timeline") as op:
            t0 = time.perf_counter()
            events = _timed(tr, "views.collect",
                            lambda: engine.timeline(limit=TIMELINE_N).collect())
            lat = time.perf_counter() - t0
            op.check(len(events) == min(TIMELINE_N, len(state["docs"])), "timeline rows")
        if op.ok:
            res.lat("timeline", lat)

    # set-up: the base corpus goes through the same path (and warms it)
    t_phase = time.perf_counter()
    with Op(res, tr, "setup_base") as op:
        ingest_one(base_files, base_expect, op)
    probes(base_expect)
    res.phase("base_and_warm_up", t_phase)
    res.counts.clear()
    res.latencies.clear()
    res.scanned.clear()
    setup_s = time.perf_counter() - t_setup

    # timed: batches land one after another (closed loop)
    res.t_start = t_start = time.perf_counter()
    docs_done, batch_lat = 0, []
    for files, expect in batches:
        # the first batch always runs; another starts only if it would
        # end inside the window, judged by the previous batch
        if batch_lat and time.perf_counter() - t_start + batch_lat[-1] > ctx.seconds:
            break
        snap0 = dir_snapshot(wh) if tr.enabled else None
        cpu0 = cpu_seconds()
        with Op(res, tr, "ingest_batch") as op:
            lat = ingest_one(files, expect, op)
        if op.ok:
            res.cpu_s += cpu_seconds() - cpu0
            batch_lat.append(lat)
            docs_done += len(expect)
        if tr.enabled:
            _storage_counts(res, snap0, dir_snapshot(wh), expect)
            _replay_ingest(tr, res, files, expect)
        probes(expect)
    res.t_end = time.perf_counter()
    res.measured_s = res.t_end - t_start
    res.latencies["batch"] = batch_lat
    res.units = docs_done
    res.throughput = docs_done / sum(batch_lat)
    res.throughput_unit = "docs/s"

    # checks
    with Op(res, tr, "check_ingest") as op:
        st = engine.stats()
        n_docs = len(state["docs"])
        op.check(st["total_documents"] == n_docs,
                 f"{st['total_documents']} documents, want {n_docs}")
        op.check(st["total_chunks"] == state["chunks"],
                 f"{st['total_chunks']} chunks, want {state['chunks']}")
        op.check(st["total_vectors"] == state["chunks"], "vectors != chunks")
        matches = engine.read_table("rule_matches").count()
        want = sum(e["rule_hit"] for e in state["docs"]) * len(ACTIVE_RULES)
        op.check(matches == want, f"{matches} rule matches, want {want}")
        res.counts["rules.matches"] = matches
    final = dir_snapshot(wh)
    res.storage_ratio = sum(final.values()) / state["text_bytes"]
    res.counts["storage.chunks_files"] = sum(
        1 for p in final if f"{os.sep}chunks{os.sep}" in p)
    res.counts["audit.table_files"] = sum(
        1 for p in final if f"{os.sep}audit_logs{os.sep}" in p)
    return setup_s


def _storage_counts(res: Result, before: dict, after: dict, expect) -> None:
    created = {p: s for p, s in after.items() if p not in before}
    user = sum(len(e["text"].encode()) for e in expect)
    res.add("storage.files_written", len(created))
    res.add("storage.bytes_written", sum(created.values()))
    res.add("storage.user_bytes", user)


def _replay_ingest(tr, res: Result, files, expect) -> None:
    """Time the sources/chunkers/embedding layers on the batch's own
    inputs, through their public functions, outside the operation."""
    from the_hive_spark.functions.chunkers import chunk_sentence_py
    from the_hive_spark.functions.embedding import bow_embedding_np
    from the_hive_spark.sources.dispatch import parse_bytes

    texts, failures = [], 0
    t0 = time.perf_counter()
    with tr.span("sources.parse"):
        for name, data in files:
            try:
                texts.append(parse_bytes(name, data))
            except ValueError:
                failures += 1
    t1 = time.perf_counter()
    with tr.span("chunkers.chunk"):
        chunks = [c for t in texts for c in chunk_sentence_py(t)]
    t2 = time.perf_counter()
    with tr.span("embedding.embed"):
        for c in chunks:
            bow_embedding_np(c)
    t3 = time.perf_counter()
    res.add("sources.parse_s", t1 - t0)
    res.add("sources.bytes_in", sum(len(d) for _, d in files))
    res.add("sources.parse_failures", failures)
    res.add("chunkers.chunk_s", t2 - t1)
    res.add("chunkers.text_bytes", sum(len(t.encode()) for t in texts))
    res.add("chunkers.docs", len(texts))
    res.add("chunkers.chunks", len(chunks))
    res.add("embedding.embed_s", t3 - t2)
    res.add("embedding.texts", len(chunks))


# ------------------------------------------------------------------- serve


def _analyst_tables(ctx: Ctx) -> str:
    path = os.path.join(ctx.work, "tables")
    gen.write_tables(path, ctx.seed, TABLES_SCALE)
    return path


def _oracle_check(ctx: Ctx, res: Result, names: list[str], tables: str) -> None:
    """Each query against its DuckDB oracle, order-insensitively (the
    comparison tests/test_oracle_parity.py uses). Runs once, untimed."""
    from the_hive_spark import registry
    from the_hive_spark.oracle import compare

    with Op(res, ctx.tracer, "check_oracles") as op:
        for name in names:
            r = compare(ctx.spark, name, registry.QUERIES[name], registry.ORACLES[name], tables)
            op.check(r.ok, f"{name} differs from its oracle: {r.detail}")


def _run_query(spark, name: str, tables: str) -> None:
    from the_hive_spark import registry

    registry.QUERIES[name](spark, tables).write.mode("overwrite").format("noop").save()


def _interleave(mix: tuple[tuple[str, int], ...], n: int) -> list[str]:
    """n operation kinds in a smooth weighted round robin: every prefix
    holds each kind in about its share, so a window cut after any
    operation sees the same mix whatever the seed."""
    total = sum(w for _, w in mix)
    credit = {k: 0 for k, _ in mix}
    out = []
    for _ in range(n):
        for k, w in mix:
            credit[k] += w
        kind = max(credit, key=credit.get)
        credit[kind] -= total
        out.append(kind)
    return out


def serve_inputs(seed: int):
    """The serve workload's documents, query pool and operation stream."""
    from the_hive_spark.functions.chunkers import chunk_sentence_py

    g = gen.CorpusGen(seed)
    tenants = [f"tenant{i}" for i in range(SERVE_TENANTS)]
    docs = [g.doc(f"d{i:05d}.txt", tenants[g.zipf_index(SERVE_TENANTS, 0.8)])
            for i in range(SERVE_DOCS)]
    doc_path = {d.name: f"/hive/{d.organization_id}/{d.name}" for d in docs}
    tenant_chunks = {t: 0 for t in tenants}
    for d in docs:
        tenant_chunks[d.organization_id] += len(chunk_sentence_py(d.text))

    # query pool: planted phrases (with their document) and generic
    # phrases, drawn with Zipf skew so popular queries repeat
    pool = [(d.phrase, d.organization_id, doc_path[d.name])
            for d in (docs[i] for i in g.rng.choice(SERVE_DOCS, 150, replace=False))]
    pool += [(" ".join(g.words(int(g.rng.integers(2, 6)))),
              tenants[g.zipf_index(SERVE_TENANTS, 0.8)], None) for _ in range(150)]
    pool = [pool[i] for i in g.rng.permutation(len(pool))]
    ops, n_chat, n_views, n_analyst = [], 0, 0, 0
    for kind in _interleave(SERVE_MIX, 2000):
        if kind in ("search", "chat"):
            item = pool[g.zipf_index(len(pool), 0.9)]
            session = None
            if kind == "chat":
                # every other chat persists into one of a few sessions
                if n_chat % 2:
                    session = f"s{int(g.rng.integers(SERVE_SESSIONS))}"
                n_chat += 1
            ops.append((kind, item, session))
        elif kind == "views":
            ops.append(("timeline" if n_views % 2 == 0 else "stats", None, None))
            n_views += 1
        else:
            # a fixed rotation: the window's analyst share is the same
            # queries whatever the seed
            ops.append(("analyst", SERVE_ANALYST[n_analyst % len(SERVE_ANALYST)], None))
            n_analyst += 1
    return docs, doc_path, tenant_chunks, pool, ops


def run_serve(ctx: Ctx, res: Result) -> float:
    from the_hive_spark import registry
    from the_hive_spark.engine import HiveEngine
    from the_hive_spark.schemas import INGEST_FILES

    spark, tr = ctx.spark, ctx.tracer
    t_setup = time.perf_counter()
    docs, doc_path, tenant_chunks, pool, ops = serve_inputs(ctx.seed)
    text_bytes = sum(len(d.text.encode()) for d in docs)
    res.phase("generate", t_setup)

    t_phase = time.perf_counter()
    wh = os.path.join(ctx.work, "warehouse")
    engine = HiveEngine(spark, wh)
    instrument_engine(engine, tr)
    rows = [(doc_path[d.name], d.text, d.organization_id, {"filetype": "txt"}) for d in docs]
    with Op(res, tr, "setup_build"):
        engine.ingest_batch(spark.createDataFrame(rows, INGEST_FILES))
    res.phase("build", t_phase)
    t_phase = time.perf_counter()
    tables = _analyst_tables(ctx)
    registry.load_all()
    _oracle_check(ctx, res, SERVE_ANALYST, tables)  # also warms the queries
    res.phase("tables_and_oracles", t_phase)
    want_stats = {"total_documents": SERVE_DOCS, "total_chunks": sum(tenant_chunks.values()),
                  "total_vectors": sum(tenant_chunks.values())}
    # warm-up: each user operation kind, untimed
    t_phase = time.perf_counter()
    for kind, session in (("search", None), ("chat", "warm"), ("chat", None),
                          ("timeline", None), ("stats", None), ("search", None),
                          ("search", None)):
        _serve_op(ctx, engine, res, (kind, pool[0], session), tenant_chunks, want_stats, tables)
    res.phase("warm_up", t_phase)
    res.counts.clear()
    res.latencies.clear()
    res.scanned.clear()
    setup_s = time.perf_counter() - t_setup

    cpu0 = cpu_seconds()
    res.t_start = t_start = time.perf_counter()
    seen: set[str] = set()
    repeats = n_queries = 0
    for op in ops:
        if time.perf_counter() - t_start >= ctx.seconds:
            break
        if op[0] in ("search", "chat"):
            n_queries += 1
            repeats += op[1][0] in seen
            seen.add(op[1][0])
        _serve_op(ctx, engine, res, op, tenant_chunks, want_stats, tables)
    res.t_end = time.perf_counter()
    res.measured_s = res.t_end - t_start
    res.cpu_s = cpu_seconds() - cpu0
    n_ops = res.units = sum(
        len(v) for k, v in res.latencies.items() if not k.startswith("query."))
    res.throughput = n_ops / res.measured_s
    res.throughput_unit = "ops/s"
    res.counts["serve.repeat_query_share"] = repeats / max(1, n_queries)
    final = dir_snapshot(wh)
    res.storage_ratio = sum(final.values()) / text_bytes
    res.counts["audit.table_files"] = sum(1 for p in final if f"{os.sep}audit_logs{os.sep}" in p)
    res.counts["storage.chunks_files"] = sum(1 for p in final if f"{os.sep}chunks{os.sep}" in p)
    return setup_s


def _serve_op(ctx: Ctx, engine, res: Result, op, tenant_chunks, want_stats, tables) -> None:
    from the_hive_spark.functions.embedding import bow_embedding_np

    kind, item, session = op
    tr = ctx.tracer
    with Op(res, tr, kind) as o:
        t0 = time.perf_counter()
        if kind == "search":
            text, tenant, want_doc = item
            hits = _timed(tr, "search.rank", lambda: engine.search(
                text, top_k=SEARCH_K, organization_id=tenant).collect())
            lat = time.perf_counter() - t0
            o.check(len(hits) == min(SEARCH_K, tenant_chunks[tenant]), f"{len(hits)} hits")
            o.check(all(h["organization_id"] == tenant for h in hits), "foreign tenant hit")
            if want_doc is not None:
                o.check(bool(hits) and hits[0]["document_id"] == want_doc,
                        f"planted phrase of {want_doc} is not top-1")
            res.scanned.append(tenant_chunks[tenant])
        elif kind == "chat":
            text, tenant, _ = item
            out = _timed(tr, "chat.retrieve", lambda: engine.chat(
                text, top_k=CHAT_K, organization_id=tenant, session_id=session).collect())
            lat = time.perf_counter() - t0
            want = min(CHAT_K, tenant_chunks[tenant])
            o.check(len(out[0]["citations"]) == want,
                    f"{len(out[0]['citations'])} citations, want {want}")
        elif kind == "timeline":
            events = _timed(tr, "views.collect",
                            lambda: engine.timeline(limit=TIMELINE_N).collect())
            lat = time.perf_counter() - t0
            o.check(len(events) == TIMELINE_N, f"{len(events)} timeline rows")
        elif kind == "stats":
            st = engine.stats()
            lat = time.perf_counter() - t0
            o.check(st == want_stats, f"stats {st} != {want_stats}")
        else:
            module = _module_of(item)
            _timed(tr, f"operators.{module}", lambda: _run_query(ctx.spark, item, tables))
            lat = time.perf_counter() - t0
            res.lat(f"query.{item}", lat)
    if o.ok:
        res.lat(kind, lat)
    if tr.enabled and kind in ("search", "chat"):
        t0 = time.perf_counter()
        with tr.span("embedding.embed"):
            bow_embedding_np(item[0])
        res.add("embedding.embed_s", time.perf_counter() - t0)
        res.add("embedding.texts", 1)


def _module_of(name: str) -> str:
    from the_hive_spark import registry

    return registry.QUERIES[name].__module__.rsplit(".", 1)[-1]


# --------------------------------------------------------------- analytics


def run_analytics(ctx: Ctx, res: Result) -> float:
    from the_hive_spark import registry

    t_setup = time.perf_counter()
    tables = _analyst_tables(ctx)
    registry.load_all()
    _oracle_check(ctx, res, HEADLINE, tables)  # also the untimed warm pass
    res.phase("tables_and_oracles", t_setup)
    setup_s = time.perf_counter() - t_setup
    rng = random.Random(ctx.seed)
    passes = []
    cpu0 = cpu_seconds()
    res.t_start = t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        order = list(HEADLINE)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            with Op(res, ctx.tracer, "analyst"):
                t0 = time.perf_counter()
                _timed(ctx.tracer, f"operators.{_module_of(name)}",
                       lambda: _run_query(ctx.spark, name, tables))
                lat = time.perf_counter() - t0
            res.lat("query", lat)
            res.lat(f"query.{name}", lat)
        passes.append(time.perf_counter() - t_pass)
    res.t_end = time.perf_counter()
    res.measured_s = res.t_end - t_start
    res.latencies["pass"] = passes
    res.cpu_s = cpu_seconds() - cpu0
    res.units = len(res.latencies["query"])
    res.throughput = res.units / res.measured_s
    res.throughput_unit = "queries/s"
    return setup_s


WORKLOADS = {"ingest": run_ingest, "serve": run_serve, "analytics": run_analytics}


def prepare_workdir(root: str, workload: str) -> str:
    path = os.path.join(root, workload)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else float("nan")
