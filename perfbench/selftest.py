"""Self-test of the input generators and the plain-Python checks; starts no
Spark session.

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical files and another seed
different ones, for every generator; that stream files carry re-sent keys;
that planted document pairs clear the Jaccard threshold; and that the
reference readings of DropField and ExtendedHoistField behave as the
reference does on a hand-made record; and that BENCHMARK.json declares
exactly the workloads and metrics ``run.py`` prints. Exits non-zero on any
failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(d, "*")))
    }


def _write_all(root: str, seed: int) -> dict:
    gen.write_wire_files(os.path.join(root, "wire"), seed, 2, 300)
    gen.write_stream_files(os.path.join(root, "stream"), seed, 4, 50, 0.2, 1)
    gen.write_docs(os.path.join(root, "docs"), seed, 400, 20, 2)
    return {k: _digest(os.path.join(root, k)) for k in ("wire", "stream", "docs")}


def main() -> int:
    failures = []
    base = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.getcwd())
    try:
        a = _write_all(os.path.join(base, "a"), 11)
        b = _write_all(os.path.join(base, "b"), 11)
        c = _write_all(os.path.join(base, "c"), 12)
        for kind in a:
            if a[kind] != b[kind]:
                failures.append(f"{kind}: same seed gave different bytes")
            if any(a[kind][f] == c[kind].get(f) for f in a[kind]):
                failures.append(f"{kind}: another seed gave an identical file")
        if any(name.startswith(".") for d in ("wire", "stream", "docs")
               for name in os.listdir(os.path.join(base, "a", d))):
            failures.append("a hidden temporary file was left behind")

        keys = gen.stream_file_table(11, 3, 50, 0.2, 1).column("key").to_pylist()
        earlier = {k for f in range(3) for k in gen.stream_file_table(11, f, 50, 0.2, 1).column("key").to_pylist()}
        if len(keys) != 60 or len(set(keys[:50])) != 50 or not set(keys[50:]) <= earlier:
            failures.append("stream file 3: expected 50 fresh keys, then 10 re-sent from files 0-2")

        docs, planted = gen.docs_corpus(11, 400, 20)
        low = [p for p in planted if checks.jaccard(checks.shingles(docs[p[0]], 3),
                                                    checks.shingles(docs[p[1]], 3)) < 0.5]
        if len(planted) != 20 or len(low) > 2:
            failures.append(f"docs: {len(low)} of {len(planted)} planted pairs below Jaccard 0.5")

        rec = b'{"id":1,"a":{"b":1,"c":{"d":2,"e":3}},"f":[{"b":1}],"g":null}'
        got = checks.expected_value(rec, {"a.b", "a.c.e", "f.b"}, "payload", {"id"})
        want = {"id": 1, "payload": {"a": {"c": {"d": 2}}, "f": [{"b": 1}], "g": None}}
        if got != want:
            failures.append(f"reference DropField/HoistField reading: {got} != {want}")
        if checks.hoist({"id": 1}, "payload", {"id"}) != {"id": 1}:
            failures.append("hoist must omit the field when nothing moves")
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        printed = dict(run.END_TO_END) | {name: unit for name, unit, *_ in layers.PER_LAYER}
        if declared != printed or [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
            failures.append("BENCHMARK.json does not list the metrics and workloads run.py prints")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
