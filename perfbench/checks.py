"""Output checks and stream latency, in plain Python with no engine code.

Each check compares what the engine wrote with an independent reading of
the reference semantics:

* DropField (schemaless): drop a field iff its full dotted path is listed;
  descend only into JSON objects, copy everything else as is.
* ExtendedHoistField (schemaless, keep_in_root): listed top-level fields stay
  at the root, the rest move under the hoist field, which is omitted when
  nothing moves.
* Near-duplicate pairs: exact Jaccard of distinct k-word shingles.

Every failed check counts as one failed operation.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import pyarrow.parquet as pq


def drop_paths(obj, paths: set[str], prefix: str = ""):
    if not isinstance(obj, dict):
        return obj
    out = {}
    for k, v in obj.items():
        p = prefix + k
        if p not in paths:
            out[k] = drop_paths(v, paths, p + ".")
    return out


def hoist(obj: dict, field: str, keep: set[str]) -> dict:
    root = {k: v for k, v in obj.items() if k in keep}
    inner = {k: v for k, v in obj.items() if k not in keep}
    if inner:
        root[field] = inner
    return root


def expected_value(raw: bytes, paths: set[str], field: str, keep: set[str]) -> dict:
    return hoist(drop_paths(json.loads(raw), paths), field, keep)


def _read_inputs(path: str) -> dict:
    """key -> input row (one per key; retries repeat a record unchanged)."""
    rows = {}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        for r in pq.read_table(f).to_pylist():
            rows[r["key"]] = r
    return rows


def _headers(h):
    return None if h is None else [[e["key"], e["value"].hex()] for e in h]


def check_wire(in_dir: str, out_path: str, sample_keys: list[str], paths, field, keep) -> tuple[int, int]:
    """Every sampled key appears once in the chain output, with the
    reference value, its key bytes, topic and headers unchanged."""
    inputs = _read_inputs(in_dir)
    with open(out_path) as fh:
        out = [json.loads(line) for line in fh]
    by_key: dict[str, list] = {}
    for r in out:
        by_key.setdefault(bytes.fromhex(r["key"]).decode(), []).append(r)
    failed = 0
    for k in sample_keys:
        got = by_key.get(k, [])
        src = inputs.get(k.encode())
        if src is None or len(got) != 1:
            failed += 1
            continue
        g = got[0]
        ok = (
            json.loads(g["value"]) == expected_value(src["value"], set(paths), field, set(keep))
            and g["topic"] == src["topic"]
            and g["headers"] == _headers(src["headers"])
        )
        failed += not ok
    failed += len(set(by_key) - set(sample_keys))
    return len(sample_keys), failed


def _log_entries(log_dir: str) -> dict[int, tuple[list, int, bool]]:
    """Spark metadata log (file sink or file source): batch id ->
    (JSON entries of that log file, its mtime in ns, whether it is a
    compaction). A ``N.compact`` file holds the entries of every batch up
    to N."""
    out = {}
    for f in os.listdir(log_dir):
        if f.startswith("."):
            continue
        batch = int(f.split(".")[0])
        path = os.path.join(log_dir, f)
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        out[batch] = ([json.loads(x) for x in lines if x], os.stat(path).st_mtime_ns, f.endswith(".compact"))
    return out


def committed_sink_files(sink_dir: str) -> list[str]:
    """Files the sink committed, from its metadata log (latest compaction
    plus every later batch), so a stray task file never counts."""
    log = _log_entries(os.path.join(sink_dir, "_spark_metadata"))
    compacts = [b for b, (_, _, c) in log.items() if c]
    start = max(compacts) if compacts else -1
    files = []
    for b in sorted(log):
        if b >= start:
            files += [e["path"] for e in log[b][0] if e.get("action", "add") == "add"]
    return [p[len("file:"):] if p.startswith("file:") else p for p in files]


def check_stream(in_dir: str, sink_dir: str, paths, field, keep) -> tuple[int, int, int, int]:
    """(attempted, failed, re-sent records, re-sent records left in the
    sink): exactly one sink row per distinct input key, carrying the
    transformed value; no row for a key that was never sent."""
    inputs = _read_inputs(in_dir)
    seen: dict[str, int] = {}
    failed = 0
    for f in committed_sink_files(sink_dir):
        for r in pq.read_table(f, columns=["key", "value"]).to_pylist():
            k = r["key"]
            seen[k] = seen.get(k, 0) + 1
            src = inputs.get(k.encode())
            if src is None or json.loads(r["value"]) != expected_value(src["value"], set(paths), field, set(keep)):
                failed += 1
    keys = {k.decode() for k in inputs}
    failed += sum(1 for k in keys if seen.get(k, 0) != 1)
    failed += sum(1 for k in seen if k not in keys)
    resent = input_records(in_dir) - len(keys)
    left = sum(n - 1 for n in seen.values() if n > 1)
    return len(keys), failed, resent, left


def input_records(in_dir: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(in_dir, "*.parquet")))


def file_latencies_ms(in_dir: str, ckpt_dir: str, sink_dir: str, due: list[float]) -> list[float]:
    """Per produced file: commit time of the micro-batch that read it (the
    mtime of that batch's entry in the sink's metadata log) minus the time
    the producer was scheduled to write it."""
    batch_of = {}
    for _, (entries, _, _) in _log_entries(os.path.join(ckpt_dir, "sources", "0")).items():
        for e in entries:
            batch_of[os.path.basename(e["path"])] = e["batchId"]
    commit_ns = {b: ns for b, (_, ns, _) in _log_entries(os.path.join(sink_dir, "_spark_metadata")).items()}
    out = []
    for i, d in enumerate(due):
        b = batch_of[f"s-{i:05d}.parquet"]
        out.append(commit_ns[b] / 1e6 - d * 1000)
    return out


def shingles(text: str, k: int) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_docs(in_dir: str, out_path: str, planted: list, k: int, threshold: float) -> tuple[int, int, float]:
    """(attempted, failed, recall): every output pair must have exact
    Jaccard >= threshold, ``a < b`` and be reported once; recall is the
    share of planted pairs at or above the threshold that were found."""
    texts = {}
    for f in glob.glob(os.path.join(in_dir, "*.parquet")):
        t = pq.read_table(f)
        texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    with open(out_path) as fh:
        pairs = [tuple(json.loads(line)) for line in fh]
    sh = {}

    def s(i):
        if i not in sh:
            sh[i] = shingles(texts[i], k)
        return sh[i]

    failed = len(pairs) - len(set(pairs))
    for a, b in set(pairs):
        failed += not (a < b and a in texts and b in texts and jaccard(s(a), s(b)) >= threshold)
    eligible = [tuple(p) for p in planted if jaccard(s(p[0]), s(p[1])) >= threshold]
    found = set(pairs)
    recall = sum(p in found for p in eligible) / len(eligible)
    if not pairs:
        return 1, 1, recall
    return len(pairs), failed, recall


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples and never beyond the
    largest (statistics.quantiles, inclusive method)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
