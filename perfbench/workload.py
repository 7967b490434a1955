"""One benchmark workload in a fresh Spark process.

``run.py`` starts this script for the timed run (role ``measure``), and in a
traced run also for the traced process (``trace``) and the single-core
comparison (``scale1``). The process builds its session through the
engine's ``session.get_spark``, makes one complete cold pass of the workload
plus the warm-up passes, and records the moment it is ready, so the parent
can take set-up time from the moment it spawned the process. It then runs
the timed phase, reads the JVM heap after forced full GCs, and leaves the
outputs that ``checks.py`` verifies in its own directory.

The process reads inputs only from the run directory and writes only there.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()

WIRE_VALUE_DDL = (
    "id bigint, user struct<name:string,email:string,ssn:string,"
    "geo:struct<lat:int,lon:int>>, order struct<sku:string,qty:int,price_cents:bigint>, "
    "tags array<string>, note string"
)
WIRE_DROPPED_DDL = (
    "id bigint, user struct<name:string,email:string,geo:struct<lat:int>>, "
    "order struct<sku:string,qty:int,price_cents:bigint>, tags array<string>, note string"
)
DROP_PATHS = ["user.ssn", "user.geo.lon"]
HOIST_FIELD = "payload"
KEEP_IN_ROOT = ["id"]

# Warm passes after the cold pass that still belong to set-up: the JIT keeps
# compiling the hot paths after it (the first warm pass ran 1.3-1.5x the
# steady pass time on a 4-core host).
WARMUP_PASSES = 1

# Stream shape: see NOTES.md for why these values.
STREAM_PER_FILE = 50
STREAM_RETRY_SHARE = 0.1
STREAM_MAX_FILES = 20
STREAM_WARMUP_FILES = 2 * STREAM_MAX_FILES
STREAM_BACKLOG_FILES = 80
STREAM_OPEN_FILES = 100
STREAM_OPEN_RATE = 10.0  # files per second
STREAM_WATERMARK = "5 seconds"

DOCS_THRESHOLD = 0.5
DOCS_SHINGLE_K = 3


def _import_engine() -> None:
    """The engine is imported from the checkout the benchmark runs in, never
    from anywhere else on the path."""
    sys.path.insert(0, ROOT)
    import kafka_custom_transforms_spark as eng

    if not os.path.abspath(eng.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {eng.__file__}, not from {ROOT}")


def heap_after_gc_mb(spark, rounds: int = 5) -> float:
    """Smallest JVM heap used over ``rounds`` forced full GCs 0.3 s apart.
    Objects the Python side dropped are released through py4j lazily, and
    Spark's ContextCleaner frees checkpoint blocks, broadcasts and shuffles
    asynchronously after a GC finds their owners dead, so a single GC, or
    two in a row that agree, can read a point in the middle of that
    cleanup (seen: 139, 139, then 74 MB)."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append(mx.getHeapMemoryUsage().getUsed() / 1e6)
    return min(readings)


class Wire:
    """wire_json_schema: decode_wire -> drop_fields(json_schema) ->
    hoist_field(json_schema) -> encode_wire, bulk, to a noop sink."""

    def __init__(self, spark, run_dir: str, tracer, proc_dir: str):
        from kafka_custom_transforms_spark.streaming.kafka_wire import KAFKA_WIRE_SCHEMA

        self.spark, self.tracer = spark, tracer
        self.src = os.path.join(run_dir, "in", "wire")
        self.schema = KAFKA_WIRE_SCHEMA
        with open(os.path.join(run_dir, "in", "wire.json")) as fh:
            meta = json.load(fh)
        self.records = meta["records"]
        self.sample_keys = meta["sample_keys"]

    def steps(self):
        from kafka_custom_transforms_spark import drop_fields, hoist_field
        from kafka_custom_transforms_spark.streaming.kafka_wire import decode_wire, encode_wire

        return [
            ("kafka_wire.decode", decode_wire),
            ("drop_field", drop_fields(DROP_PATHS, json_schema=WIRE_VALUE_DDL)),
            ("hoist_field", hoist_field(HOIST_FIELD, keep_in_root=KEEP_IN_ROOT, json_schema=WIRE_DROPPED_DDL)),
            ("kafka_wire.encode", encode_wire),
        ]

    def frame(self):
        return self.spark.read.schema(self.schema).parquet(self.src)

    def build(self, upto: int | None = None):
        from kafka_custom_transforms_spark import transform_chain

        with self.tracer.span("chain.build"):
            chain = transform_chain(*[t for _, t in self.steps()[:upto]])
            return chain(self.frame())

    def run_pass(self, upto: int | None = None) -> None:
        self.build(upto).write.format("noop").mode("overwrite").save()

    def dump(self, out_dir: str) -> None:
        """Chain output for the sampled keys, for checks.py."""
        from pyspark.sql import functions as F
        from kafka_custom_transforms_spark import transform_chain

        keys = [k.encode() for k in self.sample_keys]
        chain = transform_chain(*[t for _, t in self.steps()])
        rows = chain(self.frame().filter(F.col("key").isin(keys))).collect()
        _write_rows(os.path.join(out_dir, "wire_out.jsonl"), [
            {"key": r.key.hex(), "value": r.value.decode(), "topic": r.topic,
             "headers": None if r.headers is None else [[h.key, h.value.hex()] for h in r.headers]}
            for r in rows
        ])


class Docs:
    """docs_near_dup: shingle_sets + minhash_lsh_pairs over a corpus with
    planted near-duplicates; a pass collects the verified pairs."""

    def __init__(self, spark, run_dir: str, tracer, proc_dir: str):
        self.spark, self.tracer = spark, tracer
        self.src = os.path.join(run_dir, "in", "docs")
        with open(os.path.join(run_dir, "in", "docs.json")) as fh:
            self.records = json.load(fh)["records"]
        self.last_pairs: list = []

    def frame(self):
        return self.spark.read.schema("doc_id bigint, text string").parquet(self.src)

    def build(self):
        """The pairs DataFrame. Building it already runs the operator's
        eager checkpoint jobs (shingle sets and signatures)."""
        from kafka_custom_transforms_spark.operators.dedup import minhash_lsh_pairs

        with self.tracer.span("chain.build"):
            return minhash_lsh_pairs(
                self.frame(), id_col="doc_id", text_col="text",
                shingle_k=DOCS_SHINGLE_K, threshold=DOCS_THRESHOLD,
            )

    def run_pass(self) -> None:
        self.last_pairs = [(r.a_id, r.b_id) for r in self.build().collect()]

    def shingle_times(self, reps: int = 3) -> list[float]:
        from kafka_custom_transforms_spark.operators.dedup import shingle_sets

        times = []
        for _ in range(reps):
            t = time.perf_counter()
            shingle_sets(self.frame(), "doc_id", "text", DOCS_SHINGLE_K).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return times

    def dump(self, out_dir: str) -> None:
        _write_rows(os.path.join(out_dir, "docs_out.jsonl"), [list(p) for p in self.last_pairs])


class Stream:
    """stream_chain_dedup: decode_wire -> drop_fields -> hoist_field (both on
    their schema-free pandas-UDF path) -> streaming_dedup ->
    write_parquet_stream, over a file stream of wire frames."""

    def __init__(self, spark, run_dir: str, tracer, proc_dir: str):
        self.spark, self.tracer, self.run_dir, self.proc_dir = spark, tracer, run_dir, proc_dir
        self.queries: list = []

    def steps(self):
        from kafka_custom_transforms_spark import drop_fields, hoist_field
        from kafka_custom_transforms_spark.streaming.kafka_wire import decode_wire

        return [
            ("kafka_wire.decode", decode_wire),
            ("drop_field", drop_fields(DROP_PATHS)),
            ("hoist_field", hoist_field(HOIST_FIELD, keep_in_root=KEEP_IN_ROOT)),
        ]

    def batch_chain(self, upto: int | None = None):
        """The stream's chain prefix over a batch read of the backlog files."""
        from kafka_custom_transforms_spark import transform_chain
        from kafka_custom_transforms_spark.streaming.kafka_wire import KAFKA_WIRE_SCHEMA

        raw = self.spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(os.path.join(self.run_dir, "in", "backlog"))
        return transform_chain(*[t for _, t in self.steps()[:upto]])(raw)

    def start(self, name: str, available_now: bool):
        from kafka_custom_transforms_spark import transform_chain
        from kafka_custom_transforms_spark.streaming.dedup import streaming_dedup
        from kafka_custom_transforms_spark.streaming.kafka_wire import KAFKA_WIRE_SCHEMA
        from kafka_custom_transforms_spark.streaming.sinks import write_parquet_stream

        src = os.path.join(self.run_dir, "in", name)
        os.makedirs(src, exist_ok=True)
        with self.tracer.span("chain.build"):
            raw = (
                self.spark.readStream.schema(KAFKA_WIRE_SCHEMA)
                .option("maxFilesPerTrigger", STREAM_MAX_FILES)
                .parquet(src)
            )
            out = streaming_dedup(
                transform_chain(*[t for _, t in self.steps()])(raw), ["key"], "ts", STREAM_WATERMARK
            )
        q = write_parquet_stream(
            out,
            os.path.join(self.proc_dir, "out", name),
            os.path.join(self.proc_dir, "ckpt", name),
            trigger_available_now=available_now,
        )
        self.queries.append((name, q))
        return q

    def drain(self, name: str) -> float:
        t0 = time.perf_counter()
        q = self.start(name, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {name} failed: {q.exception()}")
        return time.perf_counter() - t0

    def open_loop(self, name: str, stream_id: int, files: int, seed: int):
        """Start the query, then the producer in its own process; return the
        live query once every produced file is committed."""
        q = self.start(name, available_now=False)
        report = os.path.join(self.run_dir, "in", f"{name}.feed.json")
        feeder = subprocess.Popen([
            sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), "feed",
            "--dir", os.path.join(self.run_dir, "in", name), "--seed", str(seed),
            "--files", str(files), "--per-file", str(STREAM_PER_FILE),
            "--retry-share", str(STREAM_RETRY_SHARE), "--stream-id", str(stream_id),
            "--rate", str(STREAM_OPEN_RATE), "--report", report,
        ])
        try:
            if feeder.wait(timeout=120) != 0:
                raise RuntimeError("stream producer failed")
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        q.processAllAvailable()
        if q.exception() is not None:
            raise RuntimeError(f"stream {name} failed: {q.exception()}")
        return q


def _write_rows(path: str, rows: list) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


class NoTracer:
    """Tracing off: spans cost one attribute lookup and a no-op context."""

    class _Null:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    _null = _Null()

    def span(self, name: str):
        return self._null


def warm_passes(run_pass, seconds: float, min_passes: int) -> list[float]:
    """Wall time of each pass, for ``seconds`` and at least ``min_passes``."""
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < t_end:
        t = time.perf_counter()
        run_pass()
        times.append(time.perf_counter() - t)
    return times


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["wire_json_schema", "stream_chain_dedup", "docs_near_dup"])
    ap.add_argument("--run-dir", required=True, help="holds the generated inputs under in/")
    ap.add_argument("--proc-dir", required=True, help="this process's own outputs and Spark dirs")
    ap.add_argument("--role", required=True, choices=["measure", "trace", "scale1"])
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-passes", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    _import_engine()
    traced = a.role == "trace"
    if traced:
        from layers import Tracer  # perfbench/layers.py, next to this file

        tracer = Tracer()
    else:
        tracer = NoTracer()

    from kafka_custom_transforms_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(a.proc_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(a.proc_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        conf.update(tracer.spark_conf())
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{a.workload}", cpus=1 if a.role == "scale1" else 4, extra_conf=conf
        )
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {"role": a.role, "session_ready_at": time.time()}
    if traced:
        tracer.attach(spark)

    cls = {"wire_json_schema": Wire, "stream_chain_dedup": Stream, "docs_near_dup": Docs}[a.workload]
    w = cls(spark, a.run_dir, tracer, a.proc_dir)
    out_dir = os.path.join(a.proc_dir, "check")
    os.makedirs(out_dir, exist_ok=True)

    # Set-up: one complete cold pass and the JIT warm-up after it (for the
    # stream, two micro-batches of a warm-up backlog).
    if a.workload == "stream_chain_dedup":
        w.drain("warmup")
    else:
        for _ in range(1 + WARMUP_PASSES):
            w.run_pass()
    result["ready_at"] = time.time()

    if a.role == "scale1":
        result["pass_s"] = warm_passes(w.run_pass, 0, min_passes=2)
    elif a.workload == "stream_chain_dedup":
        before = tracer.counters() if traced else None
        result["drain_s"] = w.drain("backlog")
        if traced:
            window = tracer.window(before, tracer.counters())
        q = w.open_loop("open", 2, STREAM_OPEN_FILES, a.seed)
        result["retained_heap_mb"] = heap_after_gc_mb(spark)
        if traced:
            result["progress"] = {name: [json.loads(p.json) for p in qq.recentProgress] for name, qq in w.queries}
        q.stop()
    else:
        result["pass_s"] = warm_passes(w.run_pass, a.seconds, a.min_passes)
        if traced:
            # One more pass between two counter reads: the traced window.
            before = tracer.counters()
            w.run_pass()
            window = tracer.window(before, tracer.counters())
        result["retained_heap_mb"] = heap_after_gc_mb(spark)
        w.dump(out_dir)
    if traced:
        result["trace"] = tracer.report(spark, w, a)
        result["trace"]["window"] = window
        result["trace"]["window_records"] = (
            sum(int(p["numInputRows"]) for p in result["progress"]["backlog"])
            if a.workload == "stream_chain_dedup" else w.records
        )
        if a.workload == "docs_near_dup":
            result["trace"]["pairs_out"] = len(w.last_pairs)
    _finish(result, a.out)


def _finish(result: dict, out: str) -> None:
    """Publish the result and exit at once: the parent ends the JVM and every
    other process of this session, so a graceful shutdown is only delay."""
    with open(out + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.rename(out + ".tmp", out)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
