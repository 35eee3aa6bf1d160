#!/usr/bin/env python3
"""The Hive benchmark: one command, one seed, one workload (or all).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository, on one local Spark
session with one task slot per core. Prints a report (every metric by
name, with unit and sample count), writes it to perfbench/results/,
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, measured by a traced run. Exits 1 when a correctness
check failed, 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

# Layers whose self time is reported as a share of operation wall time
SPAN_LAYERS = ("client", "streaming", "engine", "storage", "audit", "search",
               "chat", "rules", "graph", "views", "operators")


def machine_load() -> dict:
    """loadavg and the number of running JVMs, so that a contended run
    reads as contention on its face."""
    snap: dict = {"loadavg": [round(x, 2) for x in os.getloadavg()]}
    n_jvm = 0
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/comm") as fh:
                n_jvm += fh.read().strip() == "java"
        except OSError:
            pass
    snap["n_jvms"] = n_jvm
    return snap


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants: Spark's
    Python workers, left behind when the JVM exits, come back to it to be
    waited for. A no-op where prctl is not there."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Pids of every live process below this one (zombies excluded)."""
    from perfbench.workloads import proc_stats, process_tree

    stats = proc_stats()
    return [p for p in process_tree(stats) if p != os.getpid() and stats[p][0] != "Z"]


def reap() -> None:
    """Collect the exit status of every ended child, so none stays a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session and its JVM (closing the JVM's stdin makes
    it exit), then wait until every process this one started has ended;
    what outlives ``timeout`` is killed and waited for."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as e:  # a dead JVM cannot stop cleanly; it is ended below
        print(f"perfbench: spark stop: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        reap()
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start_spark():
    from the_hive_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        # no hsperfdata file in /tmp: the JVM writes nothing outside
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _mean(xs):
    return statistics.mean(xs) if xs else 0.0


def layer_metrics(tracer, res) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, over its timed window."""
    from perfbench.workloads import SEARCH_K

    c = res.counts
    lo, hi = res.t_start, res.t_end
    ops = [o for o in tracer.ops if lo <= o["start"] and o["end"] <= hi]
    op_ids = {o["id"] for o in ops}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    self_t = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}
    wall = sum(o["end"] - o["start"] for o in ops) or float("nan")
    out: dict[str, tuple[float, str]] = {}
    layer_self = {name: 0.0 for name in SPAN_LAYERS}
    for s in spans:
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + self_t[s["id"]]
    for name in SPAN_LAYERS:
        out[f"{name}.self_pct"] = (100.0 * layer_self[name] / wall, "%")

    def rate(num, den):
        return num / den if den else 0.0

    def self_ms(name, parent=None):
        xs = [self_t[s["id"]] for s in spans if s["name"] == name
              and (parent is None or by_id.get(s["parent"], {}).get("name") == parent)]
        return 1000.0 * _mean(xs)

    def dur_ms(name, parent=None):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == name
              and (parent is None or by_id.get(s["parent"], {}).get("name") == parent)]
        return 1000.0 * _mean(xs)

    def per_op(kind, key):
        xs = [o.get(key, 0) + o.get(f"extra_{key}", 0) for o in ops if o["name"] == kind]
        return _mean(xs)

    out["sources.parse_mb_per_s"] = (rate(c.get("sources.bytes_in", 0) / 1e6,
                                          c.get("sources.parse_s", 0)), "MB/s")
    out["chunkers.chunk_mb_per_s"] = (rate(c.get("chunkers.text_bytes", 0) / 1e6,
                                           c.get("chunkers.chunk_s", 0)), "MB/s")
    out["embedding.texts_per_s"] = (rate(c.get("embedding.texts", 0),
                                         c.get("embedding.embed_s", 0)), "1/s")
    out["streaming.rows_per_s"] = (rate(c.get("streaming.input_rows", 0),
                                        c.get("streaming.trigger_s", 0)), "1/s")
    out["rules.docs_per_s"] = (rate(c.get("chunkers.docs", 0), c.get("rules.eval_s", 0)), "1/s")
    out["graph.pairs_per_s"] = (rate(c.get("graph.candidate_pairs", 0),
                                     c.get("graph.contradiction_s", 0)), "1/s")
    n_queries = sum(len(v) for k, v in res.latencies.items() if k.startswith("query."))
    out["operators.queries_per_s"] = (rate(n_queries, layer_self["operators"]), "1/s")
    out["search.rank_ms"] = (self_ms("search.rank"), "ms")
    out["search.audit_ms"] = (dur_ms("audit.append", parent="search.plan"), "ms")
    out["chat.retrieve_ms"] = (self_ms("chat.retrieve"), "ms")
    docs = c.get("chunkers.docs", 0)
    out["sources.bytes_in"] = (c.get("sources.bytes_in", 0), "bytes")
    out["sources.parse_failures"] = (c.get("sources.parse_failures", 0), "count")
    out["chunkers.chunks_per_doc"] = (rate(c.get("chunkers.chunks", 0), docs), "ratio")
    out["embedding.texts"] = (c.get("embedding.texts", 0), "count")
    out["streaming.input_rows"] = (c.get("streaming.input_rows", 0), "count")
    out["storage.write_amp"] = (rate(c.get("storage.bytes_written", 0),
                                     c.get("storage.user_bytes", 0)), "ratio")
    out["storage.files_written"] = (c.get("storage.files_written", 0), "count")
    out["storage.chunks_files"] = (c.get("storage.chunks_files", 0), "count")
    out["rules.jobs"] = (c.get("rules.jobs", 0), "count")
    out["rules.matches"] = (c.get("rules.matches", 0), "count")
    out["graph.candidate_pairs"] = (c.get("graph.candidate_pairs", 0), "count")
    out["search.jobs_per_op"] = (per_op("search", "jobs"), "count")
    out["search.tasks_per_op"] = (per_op("search", "tasks"), "count")
    out["search.rows_scanned_per_result"] = (_mean(res.scanned) / SEARCH_K, "ratio")
    out["audit.table_files"] = (c.get("audit.table_files", 0), "count")
    out["chat.jobs_per_op"] = (per_op("chat", "jobs"), "count")
    n_ops = len(ops) or float("nan")
    for key in ("jobs", "stages", "tasks"):
        total = sum(o.get(key, 0) + o.get(f"extra_{key}", 0) for o in ops)
        out[f"spark.{key}_per_op"] = (total / n_ops, "count")
    return out


def layer_seconds(tracer, res) -> dict[str, float]:
    """Seconds spent in each layer over the timed window: the replays'
    and streaming progress figures, and span sums by name."""
    keys = ("sources.parse_s", "chunkers.chunk_s", "embedding.embed_s",
            "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
            "streaming.wal_commit_s", "rules.eval_s", "graph.contradiction_s")
    out = {k: res.counts[k] for k in keys if k in res.counts}
    lo, hi = res.t_start, res.t_end
    self_t = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["op"] is None or not lo <= s["start"] <= hi:
            continue
        name = {"search.rank": "search.rank_s", "chat.retrieve": "chat.retrieve_s",
                "chat.persist": "chat.persist_s"}.get(s["name"])
        if s["name"] == "audit.append" and by_id.get(s["parent"], {}).get("name") == "search.plan":
            name = "search.audit_s"
        if s["layer"] == "operators":
            name = f"{s['name']}_s"
        if name is None:
            continue
        took = self_t[s["id"]] if s["name"] in ("search.rank", "chat.retrieve") \
            else s["end"] - s["start"]
        out[name] = out.get(name, 0.0) + took
    return out


def issue_metrics(res, setup_s: float, rss: float) -> dict[str, tuple[float, str, int]]:
    """The report's user-facing metrics: (value, unit, samples)."""
    from perfbench.workloads import percentile

    lat = res.latencies
    n_att = max(1, res.attempted)
    out: dict[str, tuple[float, str, int]] = {
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (rss, "MB", 1),
        "error_rate": (res.failed / n_att, "ratio", res.attempted),
    }
    if res.workload == "ingest":
        b = lat.get("batch", [])
        out["ingest_docs_per_s"] = (res.throughput, "docs/s", len(b))
        out["ingest_batch_p50_s"] = (statistics.median(b) if b else math.nan, "s", len(b))
        out["bytes_stored_per_user_byte"] = (res.storage_ratio, "ratio", 1)
    if res.workload in ("ingest", "serve"):
        s, ch = lat.get("search", []), lat.get("chat", [])
        out["search_p50_ms"] = (1000 * percentile(s, 50), "ms", len(s))
        out["search_p90_ms"] = (1000 * percentile(s, 90), "ms", len(s))
        out["chat_p50_ms"] = (1000 * percentile(ch, 50), "ms", len(ch))
    out["cpu_ms_per_unit"] = (1000 * res.cpu_s / max(1, res.units),
                              f"ms/{res.throughput_unit.split('/')[0]}", res.units)
    if res.workload == "serve":
        n = sum(len(v) for k, v in lat.items() if not k.startswith("query."))
        out["serve_ops_per_s"] = (res.throughput, "ops/s", n)
        out["repeat_query_share"] = (res.counts.get("serve.repeat_query_share", 0), "ratio", n)
        out["bytes_stored_per_user_byte"] = (res.storage_ratio, "ratio", 1)
    if res.workload == "analytics":
        p = lat.get("pass", [])
        out["analytics_pass_s"] = (statistics.median(p) if p else math.nan, "s", len(p))
    for k, v in sorted(lat.items()):
        if k.startswith("query."):
            out[f"{k}_s"] = (statistics.median(v), "s", len(v))
    return out


def end_to_end(res, setup_s: float, rss: float) -> dict[str, tuple[float, str]]:
    """The BENCHMARK.json end-to-end metrics. Wall-time latency and
    throughput are in the report only: on a shared host they move from
    run to run by more than the widest bound a metric may have (25%;
    DESIGN.md, Steadiness)."""
    out = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_unit": (1000 * res.cpu_s / res.units if res.units else math.nan, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    if res.workload != "analytics":
        out["storage_ratio"] = (res.storage_ratio, "ratio")
    return out


def run_workload(spark, workload: str, seed: int, seconds: float, trace: bool,
                 session_s: float, jvm_pid: int) -> dict:
    from perfbench import workloads
    from perfbench.trace import NullTracer, Tracer

    tracer = Tracer(spark) if trace else NullTracer()
    work = workloads.prepare_workdir(WORK, workload)
    ctx = workloads.Ctx(spark=spark, seed=seed, seconds=seconds, work=work, tracer=tracer)
    res = workloads.Result(workload)
    load_start = machine_load()
    setup_s = session_s + workloads.WORKLOADS[workload](ctx, res)
    rss = peak_rss_mb([os.getpid(), jvm_pid])
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "load_start": load_start,
        "load_end": machine_load(),
        "attempted": res.attempted,
        "failed": res.failed,
        "problems": res.problems[:20],
        "measured_s": res.measured_s,
        "setup_phases_s": {"session": session_s, **res.setup_phases} if session_s
        else res.setup_phases,
        "end_to_end": end_to_end(res, setup_s, rss),
        "report": issue_metrics(res, setup_s, rss),
        "latencies_s": res.latencies,
    }
    if trace:
        record["per_layer"] = layer_metrics(tracer, res)
        record["self_s"] = self_time_summary(tracer, res)
        record["layer_s"] = layer_seconds(tracer, res)
        tracer.write(os.path.join(RESULTS, f"{workload}-seed{seed}-spans.json"))
        untraced = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["report"]
            record["tracing_overhead"] = {
                k: (v[0] / base[k][0] - 1.0) if base.get(k) and base[k][0] else None
                for k, v in record["report"].items()
            }
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return record


def self_time_summary(tracer, res) -> dict:
    """Self seconds per layer inside the timed operations, their sum
    next to the operations' wall time, and the layer replays."""
    lo, hi = res.t_start, res.t_end
    ops = [o for o in tracer.ops if lo <= o["start"] and o["end"] <= hi]
    op_ids = {o["id"] for o in ops}
    st = tracer.self_times()
    layers: dict[str, float] = {}
    replays: dict[str, float] = {}
    for s in tracer.spans:
        if s["op"] in op_ids:
            layers[s["layer"]] = layers.get(s["layer"], 0.0) + st[s["id"]]
        elif s["op"] is None and lo <= s["start"] <= hi:
            replays[s["layer"]] = replays.get(s["layer"], 0.0) + st[s["id"]]
    return {
        "ops_wall_s": sum(o["end"] - o["start"] for o in ops),
        "layers_self_s": layers,
        "replays_s": replays,
    }


def print_report(rec: dict) -> None:
    w = rec["workload"]
    print(f"== {w}  seed={rec['seed']}  seconds={rec['seconds']}  trace={rec['trace']}"
          f"  measured={rec['measured_s']:.2f}s")
    print(f"   load start {rec['load_start']}  end {rec['load_end']}")
    print(f"   operations attempted={rec['attempted']} failed={rec['failed']}")
    phases = ", ".join(f"{k} {v:.2f}s" for k, v in rec["setup_phases_s"].items())
    print(f"   set-up phases: {phases}")
    for p in rec["problems"]:
        print(f"   FAILED CHECK: {p}")
    print("   end-to-end:")
    for k, (v, unit, n) in rec["report"].items():
        print(f"     {k:<34} {v:>12.4f} {unit:<8} n={n}")
    if "per_layer" in rec:
        print("   per-layer:")
        for k, (v, unit) in rec["per_layer"].items():
            print(f"     {k:<34} {v:>12.4f} {unit}")
        print("   layer seconds in the timed window:")
        for k, v in rec["layer_s"].items():
            print(f"     {k:<34} {v:>12.4f} s")
        st = rec["self_s"]
        total = sum(st["layers_self_s"].values())
        print(f"   self time by layer (ops wall {st['ops_wall_s']:.3f}s, "
              f"sum of self {total:.3f}s):")
        for k, v in sorted(st["layers_self_s"].items(), key=lambda kv: -kv[1]):
            print(f"     {k:<16} {v:9.3f}s")
        for k, v in sorted(st["replays_s"].items()):
            print(f"     replay {k:<9} {v:9.3f}s (outside operations)")
        if "tracing_overhead" in rec:
            print("   tracing overhead vs untraced run of the same seed:")
            for k, v in rec["tracing_overhead"].items():
                print(f"     {k:<34} {'n/a' if v is None else f'{100 * v:+.1f}%'}")


def main() -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "serve", "analytics", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("the_hive_spark", os.path.join("tests", "docgen.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    os.makedirs(RESULTS, exist_ok=True)
    os.makedirs(WORK, exist_ok=True)
    # one local task slot per core; Spark's scratch space and temp files
    # stay inside the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    # the JVM and its Python workers end, and are waited for, on every
    # way out: a normal end, an exception, or SIGTERM
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    names = ["ingest", "serve", "analytics"] if args.workload == "all" else [args.workload]
    records = []
    try:
        spark = start_spark()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        session_s = time.perf_counter() - t_main
        for i, name in enumerate(names):
            records.append(run_workload(spark, name, args.seed, args.seconds,
                                        bool(args.trace), session_s if i == 0 else 0.0,
                                        jvm_pid))
    finally:
        stop_processes()
    for rec in records:
        print_report(rec)
    key = "per_layer" if args.trace else "end_to_end"

    def value(v):
        # a run whose operations all failed has no latency: null, not NaN,
        # so that the line stays valid JSON
        return v if math.isfinite(v) else None

    if len(records) == 1:
        metrics = {k: {"value": value(v), "unit": u} for k, (v, u) in records[0][key].items()}
    else:
        metrics = {f"{r['workload']}.{k}": {"value": value(v), "unit": u}
                   for r in records for k, (v, u) in r[key].items()}
    failed = sum(r["failed"] for r in records)
    line = {
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in records),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(line), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
