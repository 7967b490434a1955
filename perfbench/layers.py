"""The traced run: per-layer numbers, timed from outside the engine.

``Tracer`` lives in the traced workload process. It records spans around the
benchmark's own calls into each engine module's public functions and reads
Spark's own counters: stage totals and SQL plan metrics over the local REST
API of the Spark UI (enabled only in this run), and
``StreamingQueryProgress`` for the stream. Operator time is marginal: each
prefix of the chain runs to a noop sink, and an operator's time is the
difference between the prefix that ends with it and the one before.

``traced_run`` (in the parent) runs the untraced timed phase once for the
tracing-overhead baseline, then the traced process, then, for
``wire_json_schema``, the same chain on ``local[1]``; it prints the report
table and returns the per-layer result line.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
import urllib.request

# (metric, unit, end-to-end metric it should move, workloads it is read on).
PER_LAYER = [
    ("session.get_spark_s", "s", "setup_s", "all"),
    ("chain.build_ms", "ms", "setup_s, event_latency_ms_p50", "all"),
    ("chain.analyze_ms", "ms", "setup_s, event_latency_ms_p50", "all"),
    ("kafka_wire.decode_s", "s", "records_per_s", "wire_json_schema, stream_chain_dedup"),
    ("kafka_wire.encode_s", "s", "records_per_s", "wire_json_schema"),
    ("drop_field.exec_s", "s", "records_per_s", "wire_json_schema (JVM), stream_chain_dedup (UDF)"),
    ("hoist_field.exec_s", "s", "records_per_s", "wire_json_schema (JVM), stream_chain_dedup (UDF)"),
    ("udf.worker_start_s", "s", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("udf.worker_init_s", "s", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("udf.run_s", "s", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("udf.bytes_sent", "bytes", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("udf.bytes_returned", "bytes", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("udf.worker_rss_mb", "MB", "records_per_s, event_latency_ms_p50", "stream, docs; 0 on wire"),
    ("exec.jobs", "count", "records_per_s", "all"),
    ("exec.tasks", "count", "records_per_s", "all"),
    ("exec.run_s", "s", "records_per_s", "all"),
    ("exec.cpu_s", "s", "records_per_s", "all"),
    ("exec.gc_s", "s", "records_per_s", "all"),
    ("exec.cpu_us_per_record", "us", "records_per_s", "all"),
    ("exec.scaling_4v1", "ratio", "records_per_s", "wire_json_schema"),
    ("shuffle.write_bytes", "bytes", "records_per_s, retained_heap_mb", "docs, stream; 0 on wire"),
    ("shuffle.records", "count", "records_per_s, retained_heap_mb", "docs, stream; 0 on wire"),
    ("shuffle.fetch_wait_s", "s", "records_per_s, retained_heap_mb", "docs, stream; 0 on wire"),
    ("shuffle.spill_bytes", "bytes", "records_per_s, retained_heap_mb", "docs, stream; 0 on wire"),
    ("state.rows_total", "count", "retained_heap_mb, event_latency_ms_p90", "stream_chain_dedup"),
    ("state.memory_bytes", "bytes", "retained_heap_mb, event_latency_ms_p90", "stream_chain_dedup"),
    ("state.rows_dropped_by_watermark", "count", "retained_heap_mb, event_latency_ms_p90", "stream_chain_dedup"),
    ("state.commit_ms", "ms", "retained_heap_mb, event_latency_ms_p90", "stream_chain_dedup"),
    ("stream.batches", "count", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.rows_per_batch", "count", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.trigger_ms_p50", "ms", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.add_batch_ms_p50", "ms", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.fixed_ms_p50", "ms", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.query_planning_ms_p50", "ms", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("stream.wal_commit_ms_p50", "ms", "event_latency_ms_p50, records_per_s", "stream_chain_dedup"),
    ("dedup.shingle_s", "s", "records_per_s, dedup_recall", "docs_near_dup"),
    ("dedup.lsh_pairs_s", "s", "records_per_s, dedup_recall", "docs_near_dup"),
    ("dedup.candidate_pairs", "count", "records_per_s, dedup_recall", "docs_near_dup"),
    ("dedup.pairs_out", "count", "records_per_s, dedup_recall", "docs_near_dup"),
    ("dedup.candidate_yield", "ratio", "records_per_s, dedup_recall", "docs_near_dup"),
    ("gen.late_ms_max", "ms", "context", "stream_chain_dedup; 0 elsewhere"),
    ("host.steal_cores", "cores", "context", "all"),
    ("host.peak_rss_mb", "MB", "context", "all"),
    ("trace.overhead_pct", "%", "context", "all"),
    ("ops.failed_frac", "fraction", "context", "all"),
]
# Layers the Python boundary and shuffle never reach on the all-JVM chain.
PREDICTED_ZERO = {"wire_json_schema": [m for m, *_ in PER_LAYER if m.startswith(("udf.", "shuffle."))]}

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def metric_value(text: str) -> float:
    """A SQL metric as the REST API renders it ("8,000", "1.4 s",
    "total (min, med, max ...)\\n12.5 s (...)") in base units (s, bytes)."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Spans and Spark counters of one traced workload process."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []
        self.base = ""

    def spark_conf(self) -> dict:
        return {
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def attach(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    class _Span:
        def __init__(self, tracer, name):
            self.tracer, self.name = tracer, name

        def __enter__(self):
            t = self.tracer
            self.parent = t._stack[-1] if t._stack else None
            t._stack.append(self.name)
            self.t0 = time.perf_counter()
            return self

        def __exit__(self, *exc):
            t = self.tracer
            t._stack.pop()
            t.spans.append((self.name, self.t0, time.perf_counter(), self.parent))
            return False

    def span(self, name: str):
        return self._Span(self, name)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]

    def rest(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _stage_totals(self) -> dict:
        out = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "sh_bytes", "sh_records",
                             "fetch_ms", "spill"), 0)
        for st in self.rest("/stages?status=complete"):
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"]
            out["run_ms"] += st["executorRunTime"]
            out["cpu_ns"] += st["executorCpuTime"]
            out["gc_ms"] += st["jvmGcTime"]
            out["sh_bytes"] += st["shuffleWriteBytes"]
            out["sh_records"] += st["shuffleWriteRecords"]
            out["fetch_ms"] += st["shuffleFetchWaitTime"]
            out["spill"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        out["jobs"] = len(self.rest("/jobs?status=succeeded"))
        out["sql_ids"] = [e["id"] for e in self.rest("/sql?details=false&length=100000")]
        return out

    def counters(self) -> dict:
        """Cumulative counters once the listener bus has delivered every
        finished stage: no stage active and two reads agree."""
        deadline = time.monotonic() + 20
        prev = None
        while True:
            if not self.rest("/stages?status=active"):
                cur = self._stage_totals()
                if cur == prev or time.monotonic() > deadline:
                    return cur
                prev = cur
            time.sleep(0.2)

    def window(self, before: dict, after: dict) -> dict:
        """Executor, shuffle and Python-boundary totals between two
        ``counters`` reads."""
        d = {k: after[k] - before[k] for k in after if k != "sql_ids"}
        new_sql = set(after["sql_ids"]) - set(before["sql_ids"])
        udf = dict.fromkeys(("start_s", "init_s", "run_s", "sent", "returned"), 0.0)
        names = {"time to start Python workers": "start_s", "time to initialize Python workers": "init_s",
                 "time to run Python workers": "run_s", "data sent to Python workers": "sent",
                 "data returned from Python workers": "returned"}
        hash_aggs = []
        for ex in self.rest("/sql?details=true&planDescription=false&length=100000"):
            if ex["id"] not in new_sql:
                continue
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    if m["name"] in names:
                        udf[names[m["name"]]] += metric_value(m["value"])
                if node["nodeName"] == "HashAggregate":
                    rows = [metric_value(m["value"]) for m in node["metrics"] if m["name"] == "number of output rows"]
                    hash_aggs.append((ex["id"], node["nodeId"], rows[0] if rows else 0.0))
        d["udf"] = udf
        d["hash_aggs"] = hash_aggs
        return d

    def report(self, spark, w, a) -> dict:
        """Per-layer measurements specific to the workload, after the timed
        phase; returned to the parent inside the result file."""
        out: dict = {"spans": {n: self.durations(n) for n in {s[0] for s in self.spans}}}
        if a.workload == "stream_chain_dedup":
            out["prefix_s"] = prefix_times(w.batch_chain, len(w.steps()))
            out["analyze_ms"] = analyze_ms(w.batch_chain)
        elif a.workload == "wire_json_schema":
            out["prefix_s"] = prefix_times(w.build, len(w.steps()))
            out["analyze_ms"] = analyze_ms(w.build)
        else:
            out["shingle_s"] = w.shingle_times()
            out["analyze_ms"] = analyze_ms(w.build)
        out["worker_rss_mb"] = python_worker_rss_mb()
        return out


def prefix_times(build, n_steps: int, reps: int = 2) -> list[float]:
    """Median noop-sink time of each chain prefix: ``[scan, +step1, ...]``."""
    times = []
    for upto in range(n_steps + 1):
        runs = []
        for _ in range(reps):
            t = time.perf_counter()
            build(upto).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        times.append(statistics.median(runs))
    return times


def analyze_ms(build, reps: int = 3) -> float:
    """Optimizer plus physical planning of the full chain over a fresh
    DataFrame (analysis itself runs eagerly inside ``build``)."""
    runs = []
    for _ in range(reps):
        df = build()
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        runs.append(1000 * (time.perf_counter() - t))
    return statistics.median(runs)


def _proc_status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                out[k] = v.strip()
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            out["cmdline"] = fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        pass
    return out


def python_worker_rss_mb() -> float:
    """Largest peak RSS (VmHWM) of the PySpark daemon's Python workers in
    this process's session; 0 when no Python worker ever started."""
    from run import session_pids

    peak = 0.0
    for pid in session_pids(os.getsid(0)):
        st = _proc_status(pid)
        if "pyspark.daemon" in st.get("cmdline", "") or "pyspark.worker" in st.get("cmdline", ""):
            kb = st.get("VmHWM", "0 kB").split()[0]
            peak = max(peak, int(kb) / 1024)
    return peak


class RssSampler:
    """Peak total RSS of a process session, sampled every 100 ms."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._sid = None
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, sid: int) -> None:
        self._sid = sid

    def _loop(self):
        from run import session_pids

        while not self._stop.wait(0.1):
            if self._sid is None:
                continue
            total = 0
            for pid in session_pids(self._sid):
                kb = _proc_status(pid).get("VmRSS", "0 kB").split()[0]
                total += int(kb)
            self.peak_mb = max(self.peak_mb, total / 1024)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def traced_run(args, meta: dict, spawn, end_to_end, host, deadline: float) -> dict:
    """Untraced baseline, traced process, and (wire) the local[1] scaling
    process; prints the report table; returns the per-layer result. The
    baseline and the traced process both time exactly three warm passes,
    which keeps a traced run inside its time limit on a contended host."""
    args.seconds, args.min_passes = 0, 3
    base, t_spawn = spawn(args, os.path.join(args.run_dir, "base"), "measure", deadline)
    base_m, _, _ = end_to_end(args, meta, base["ready_at"] - t_spawn, base, os.path.join(args.run_dir, "base"))
    with RssSampler() as rss:
        proc_dir = os.path.join(args.run_dir, "trace")
        res, t_spawn = spawn(args, proc_dir, "trace", deadline, on_start=lambda p: rss.watch(p.pid))
    m, attempted, failed = end_to_end(args, meta, res["ready_at"] - t_spawn, res, proc_dir)
    tr = res["trace"]
    v = dict.fromkeys((name for name, *_ in PER_LAYER), 0.0)
    spans = tr["spans"]
    v["session.get_spark_s"] = spans["session.get_spark"][0]
    v["chain.build_ms"] = 1000 * statistics.median(spans["chain.build"])
    v["chain.analyze_ms"] = tr["analyze_ms"]
    win = tr["window"]
    records = tr["window_records"]
    v["exec.jobs"] = win["jobs"]
    v["exec.tasks"] = win["tasks"]
    v["exec.run_s"] = win["run_ms"] / 1000
    v["exec.cpu_s"] = win["cpu_ns"] / 1e9
    v["exec.gc_s"] = win["gc_ms"] / 1000
    v["exec.cpu_us_per_record"] = win["cpu_ns"] / 1000 / max(1, records)
    v["shuffle.write_bytes"] = win["sh_bytes"]
    v["shuffle.records"] = win["sh_records"]
    v["shuffle.fetch_wait_s"] = win["fetch_ms"] / 1000
    v["shuffle.spill_bytes"] = win["spill"]
    udf = win["udf"]
    v["udf.worker_start_s"] = udf["start_s"]
    v["udf.worker_init_s"] = udf["init_s"]
    v["udf.run_s"] = udf["run_s"]
    v["udf.bytes_sent"] = udf["sent"]
    v["udf.bytes_returned"] = udf["returned"]
    v["udf.worker_rss_mb"] = tr["worker_rss_mb"]
    if "prefix_s" in tr:
        p = tr["prefix_s"]
        v["kafka_wire.decode_s"] = p[1] - p[0]
        v["drop_field.exec_s"] = p[2] - p[1]
        v["hoist_field.exec_s"] = p[3] - p[2]
        if len(p) > 4:
            v["kafka_wire.encode_s"] = p[4] - p[3]
    if args.workload == "wire_json_schema":
        one, _ = spawn(args, os.path.join(args.run_dir, "local1"), "scale1", deadline)
        v["exec.scaling_4v1"] = statistics.median(one["pass_s"]) / statistics.median(base["pass_s"])
    if args.workload == "stream_chain_dedup":
        with open(os.path.join(args.run_dir, "in", "open.feed.json")) as fh:
            v["gen.late_ms_max"] = json.load(fh)["late_ms_max"]
        v.update(stream_layers(res["progress"]))
    if args.workload == "docs_near_dup":
        v["dedup.shingle_s"] = statistics.median(tr["shingle_s"])
        v["dedup.lsh_pairs_s"] = statistics.median(res["pass_s"]) - v["dedup.shingle_s"]
        # The candidate set is the distinct (a_id, b_id) aggregate nearest
        # the root of the pass's last query: the pairs the verify join reads.
        last = [h for h in win["hash_aggs"] if h[0] == max(x[0] for x in win["hash_aggs"])]
        v["dedup.candidate_pairs"] = min(last, key=lambda h: h[1])[2] if last else 0.0
        v["dedup.pairs_out"] = tr["pairs_out"]
        v["dedup.candidate_yield"] = v["dedup.pairs_out"] / v["dedup.candidate_pairs"] if v["dedup.candidate_pairs"] else 0.0
    v["host.steal_cores"] = host.record()["steal_cores"]
    v["host.peak_rss_mb"] = rss.peak_mb
    v["trace.overhead_pct"] = 100 * (base_m["records_per_s"] / m["records_per_s"] - 1)
    v["ops.failed_frac"] = failed / max(1, attempted)
    print_report(args.workload, v, m, base_m)
    zeros = [k for k in PREDICTED_ZERO.get(args.workload, []) if v[k] != 0]
    if zeros:
        print(f"predicted zeros broken on {args.workload}: {zeros}", file=sys.stderr)
        failed += len(zeros)
    units = {name: unit for name, unit, *_ in PER_LAYER}
    return {
        "correct": failed == 0,
        "attempted": attempted + len(PREDICTED_ZERO.get(args.workload, [])),
        "failed": failed,
        "metrics": {k: {"value": float(v[k]), "unit": units[k]} for k in units},
    }


def stream_layers(progress: dict) -> dict:
    """state.* and stream.* from StreamingQueryProgress of the drained and
    open-loop queries (the set-up warm-up query is left out)."""
    ps = [p for name in ("backlog", "open") for p in progress.get(name, [])]
    data = [p for p in ps if p["numInputRows"] > 0]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in data]  # noqa: E731
    ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
    last = progress["backlog"][-1]["stateOperators"][0]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "state.rows_total": last["numRowsTotal"],
        "state.memory_bytes": last["memoryUsedBytes"],
        "state.rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "state.commit_ms": med([o.get("commitTimeMs", 0) for o in ops]),
        "stream.batches": len(ps),
        "stream.rows_per_batch": statistics.mean(p["numInputRows"] for p in data) if data else 0.0,
        "stream.trigger_ms_p50": med(dur("triggerExecution")),
        "stream.add_batch_ms_p50": med(dur("addBatch")),
        "stream.fixed_ms_p50": med([t - b for t, b in zip(dur("triggerExecution"), dur("addBatch"))]),
        "stream.query_planning_ms_p50": med(dur("queryPlanning")),
        "stream.wal_commit_ms_p50": med(dur("walCommit")),
    }


def print_report(workload: str, v: dict, traced: dict, base: dict) -> None:
    """Every per-layer metric next to the end-to-end metric and workload it
    should move, on stderr so the result line stays last on stdout."""
    out = sys.stderr
    print(f"\nper-layer report: {workload}", file=out)
    print(f"  untraced records_per_s {base['records_per_s']:.1f}, traced {traced['records_per_s']:.1f}, "
          f"trace.overhead_pct {v['trace.overhead_pct']:.2f}", file=out)
    print(f"  {'metric':34} {'value':>16} {'unit':8}  should move / on", file=out)
    for name, unit, moves, on in PER_LAYER:
        print(f"  {name:34} {v[name]:16.4f} {unit:8}  {moves} / {on}", file=out)
    for k in PREDICTED_ZERO.get(workload, []):
        print(f"  predicted zero {k}: {'holds' if v[k] == 0 else 'BROKEN'}", file=out)
