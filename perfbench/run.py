"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wire_json_schema --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It generates the
workload's inputs from the seed, runs the workload in fresh Spark
processes (``workload.py``), checks every output with ``checks.py`` (no
engine code), and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the host (cores, steal, load average). See NOTES.md for
what each workload and metric is for.

Every run gets a fresh directory under ``.perfbench-runs/`` for inputs,
Spark local, temp and checkpoint directories; it is removed at the end,
after every process the run started has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import workload as wl  # noqa: E402

WORKLOADS = ("wire_json_schema", "stream_chain_dedup", "docs_near_dup")
# Warm passes a batch workload times at least, however short --seconds is.
MIN_PASSES = 4
CHILD_TIMEOUT_S = 150
RUN_DEADLINE_S = 170

WIRE_FILES, WIRE_PER_FILE, WIRE_SAMPLE = 4, 12_500, 2000
DOCS_N, DOCS_PAIRS, DOCS_FILES = 6_000, 150, 8

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "event_latency_ms_p50": "ms",
    "event_latency_ms_p90": "ms",
    "dedup_recall": "fraction",
    "retained_heap_mb": "MB",
}


class Host:
    """nproc, load average and hypervisor steal over the run. Runs are never
    filtered on these; they are recorded so a reader can judge a run."""

    def __init__(self):
        self.t0, self.steal0 = time.monotonic(), self._steal_ticks()
        self.load0 = os.getloadavg()

    @staticmethod
    def _steal_ticks() -> int:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])

    def record(self) -> dict:
        dt = time.monotonic() - self.t0
        hz = os.sysconf("SC_CLK_TCK")
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": self.load0,
            "loadavg_end": os.getloadavg(),
            "steal_cores": (self._steal_ticks() - self.steal0) / hz / dt if dt > 0 else 0.0,
            "wall_s": dt,
        }


def session_pids(sid: int) -> list[int]:
    """Every live process of session ``sid``: the workload process, its JVM,
    the PySpark daemon and Python workers, and the stream producer. PySpark
    daemons move to their own process group but stay in the session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id.
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def end_session(proc: subprocess.Popen) -> None:
    """Kill the whole process tree of ``proc`` and wait until it is gone."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    deadline = time.monotonic() + 20
    while True:
        pids = session_pids(proc.pid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.05)


def spawn(args, proc_dir: str, role: str, deadline: float, on_start=None) -> tuple[dict, float]:
    """Run one workload process to completion in its own session; return its
    result and the wall-clock time it was spawned."""
    tmp = os.path.join(proc_dir, "tmp")
    local = os.path.join(proc_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
        # Python workers unpickle the engine's UDFs: import it from this checkout.
        "PYTHONPATH": os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    out = os.path.join(proc_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--run-dir", args.run_dir, "--proc-dir", proc_dir,
        "--role", role, "--seconds", str(args.seconds), "--min-passes", str(args.min_passes),
        "--seed", str(args.seed), "--out", out,
    ]
    with open(os.path.join(proc_dir, "log.txt"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        if on_start is not None:
            on_start(proc)
        try:
            proc.wait(timeout=max(1.0, min(CHILD_TIMEOUT_S, deadline - time.monotonic())))
        except subprocess.TimeoutExpired:
            pass
        finally:
            end_session(proc)
    print(f"{role} process: {time.time() - t_spawn:.1f} s", file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(proc_dir, "log.txt")) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{role} process failed (exit {proc.returncode}):\n{tail}")
    with open(out) as fh:
        return json.load(fh), t_spawn


def generate(args) -> dict:
    """Inputs of the workload, from the seed only."""
    d = os.path.join(args.run_dir, "in")
    meta: dict = {}
    if args.workload == "wire_json_schema":
        n = gen.write_wire_files(os.path.join(d, "wire"), args.seed, WIRE_FILES, WIRE_PER_FILE)
        rng = random.Random(f"sample:{args.seed}")
        keys = [f"k{args.seed}-{r}" for r in sorted(rng.sample(range(n), WIRE_SAMPLE))]
        meta = {"records": n, "sample_keys": keys}
        path = os.path.join(d, "wire.json")
    elif args.workload == "docs_near_dup":
        planted = gen.write_docs(os.path.join(d, "docs"), args.seed, DOCS_N, DOCS_PAIRS, DOCS_FILES)
        meta = {"records": DOCS_N, "planted": planted}
        path = os.path.join(d, "docs.json")
    else:
        # Stream 0 warms up a set-up process; stream 1 is the drained backlog.
        for sid, name, files in ((0, "warmup", wl.STREAM_WARMUP_FILES), (1, "backlog", wl.STREAM_BACKLOG_FILES)):
            gen.write_stream_files(os.path.join(d, name), args.seed, files, wl.STREAM_PER_FILE,
                                   wl.STREAM_RETRY_SHARE, sid)
        return meta
    with open(path, "w") as fh:
        json.dump(meta, fh)
    return meta


def end_to_end(args, meta: dict, setup_s: float, res: dict, proc_dir: str) -> tuple[dict, int, int]:
    """(metrics, attempted, failed) of the measured process."""
    m = {"setup_s": setup_s, "retained_heap_mb": res["retained_heap_mb"]}
    chk = os.path.join(proc_dir, "check")
    ins = os.path.join(args.run_dir, "in")
    keep_args = (wl.DROP_PATHS, wl.HOIST_FIELD, wl.KEEP_IN_ROOT)
    if args.workload == "stream_chain_dedup":
        attempted = failed = resent = left = 0
        for name in ("backlog", "open"):
            a, f, r, lf = checks.check_stream(os.path.join(ins, name), os.path.join(proc_dir, "out", name), *keep_args)
            attempted, failed, resent, left = attempted + a, failed + f, resent + r, left + lf
        m["records_per_s"] = checks.input_records(os.path.join(ins, "backlog")) / res["drain_s"]
        with open(os.path.join(ins, "open.feed.json")) as fh:
            feed = json.load(fh)
        lat = checks.file_latencies_ms(os.path.join(ins, "open"), os.path.join(proc_dir, "ckpt", "open"),
                                       os.path.join(proc_dir, "out", "open"), feed["due"])
        m["event_latency_ms_p50"] = statistics.median(lat)
        m["event_latency_ms_p90"] = checks.quantile(lat, 90)
        # Recall of the streaming dedup: share of the re-sent records it removed.
        m["dedup_recall"] = 1.0 - left / resent
        return m, attempted, failed
    passes = res["pass_s"]
    m["records_per_s"] = meta["records"] / statistics.median(passes)
    # A bulk pass is one event batch: every record in it is due when the
    # pass starts and delivered when it ends.
    m["event_latency_ms_p50"] = 1000 * statistics.median(passes)
    m["event_latency_ms_p90"] = 1000 * checks.quantile(passes, 90)
    if args.workload == "wire_json_schema":
        attempted, failed = checks.check_wire(os.path.join(ins, "wire"), os.path.join(chk, "wire_out.jsonl"),
                                              meta["sample_keys"], *keep_args)
        # No duplicates are planted in this workload, so none can be missed.
        m["dedup_recall"] = 1.0
    else:
        attempted, failed, m["dedup_recall"] = checks.check_docs(
            os.path.join(ins, "docs"), os.path.join(chk, "docs_out.jsonl"), meta["planted"],
            wl.DOCS_SHINGLE_K, wl.DOCS_THRESHOLD)
    return m, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.min_passes = MIN_PASSES

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kafka_custom_transforms_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE_S
    host = Host()
    args.run_dir = os.path.join(root, ".perfbench-runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(args.run_dir, ignore_errors=True)
    os.makedirs(args.run_dir)
    try:
        meta = generate(args)
        if args.trace:
            from layers import traced_run

            result = traced_run(args, meta, spawn, end_to_end, host, deadline)
        else:
            proc_dir = os.path.join(args.run_dir, "measure")
            res, t_spawn = spawn(args, proc_dir, "measure", deadline)
            metrics, attempted, failed = end_to_end(args, meta, res["ready_at"] - t_spawn, res, proc_dir)
            # Raw timings on stderr, for a reader who wants more than the medians.
            print(json.dumps({k: res[k] for k in ("pass_s", "drain_s") if k in res}
                             | {"session_s": res["session_ready_at"] - t_spawn}), file=sys.stderr)
            result = {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": END_TO_END[k]} for k in END_TO_END},
            }
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
    print(json.dumps({"host": host.record(), "workload": args.workload, "seed": args.seed}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
