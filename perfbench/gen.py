"""Seeded input generators for the benchmark. No Spark here.

Every generator takes the seed as an argument and derives all content from
it, so the same seed gives byte-identical files and another seed gives
different ones (``selftest.py`` checks both). File writes go to a hidden
name first and are renamed into place, so a Spark file source listing the
directory never sees a partial file (it skips names starting with ``.``).

Three inputs:

* wire frames (``write_wire_files``): Parquet files in the spark-sql-kafka
  wire schema whose values are nested JSON objects with unique keys;
* stream files (``stream_file_table``): the same frames, where a share of
  each file re-sends keys of the previous files inside the watermark, as a
  producer retry would;
* a document corpus (``write_docs``) with planted near-duplicate pairs.

Run as a script, ``feed`` is the open-loop producer of the stream workload:
it writes one stream file per tick on a fixed schedule that does not slow
down when the consumer does, and records how late it ran.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Mirrors KAFKA_WIRE_SCHEMA of streaming.kafka_wire; written here in pyarrow
# terms so the generator needs no engine code.
WIRE_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# Logical event time of the first record (2026-01-01T00:00:00Z, in us).
BASE_TS_US = 1_767_225_600_000_000
TOPIC = "orders"
SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))


@functools.lru_cache(maxsize=4)
def _vocab(seed: int, n: int) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    return list(dict.fromkeys(_word(rng) for _ in range(n * 2)))[:n]


def _frames(seed: int, block: int, rids: list[int], ts_us: list[int], first_offset: int) -> pa.Table:
    """Wire frames for record ids ``rids``. The content of a record is drawn
    from a generator seeded by (seed, block), where ``block`` is the file
    that first carries the record, so a retry in a later file can rebuild
    exactly the record it repeats. Values are nested JSON order events whose
    leaves are all non-null strings or ints, so the JVM JSON path (which
    omits nulls) and a plain Python reading agree."""
    rng = np.random.default_rng([seed, block])
    words = _vocab(seed, 2000)
    n = len(rids)
    w = rng.integers(0, len(words), size=(n, 12)).tolist()
    num = rng.integers(0, 1 << 30, size=(n, 8)).tolist()
    values, headers = [], []
    for j, rid in enumerate(rids):
        wj, nj = w[j], num[j]
        tags = ",".join(f'"{words[x]}"' for x in wj[4 : 4 + nj[6] % 4])
        note = " ".join(words[x] for x in wj[7 : 9 + nj[7] % 4])
        values.append(
            f'{{"id":{rid},"user":{{"name":"{words[wj[0]]}",'
            f'"email":"{words[wj[1]]}@{words[wj[2]]}.example",'
            f'"ssn":"{nj[0] % 1000:03d}-{nj[1] % 100:02d}-{nj[2] % 10000:04d}",'
            f'"geo":{{"lat":{nj[3] % 181 - 90},"lon":{nj[4] % 361 - 180}}}}},'
            f'"order":{{"sku":"sku-{nj[5] % 100000:05d}","qty":{nj[0] % 9 + 1},'
            f'"price_cents":{100 + nj[1] % 99900}}},"tags":[{tags}],"note":"{note}"}}'.encode()
        )
        headers.append(None if nj[2] % 10 < 3 else [{"key": "trace", "value": nj[3].to_bytes(4, "big")}])
    return pa.table(
        {
            "key": [f"k{seed}-{r}".encode() for r in rids],
            "value": values,
            "topic": [TOPIC] * n,
            "partition": [r % 4 for r in rids],
            "offset": list(range(first_offset, first_offset + n)),
            "timestamp": ts_us,
            "timestampType": [0] * n,
            "headers": headers,
        },
        schema=WIRE_SCHEMA,
    )


def _write_atomic(table: pa.Table, path: str) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


def write_wire_files(out_dir: str, seed: int, files: int, per_file: int) -> int:
    """``files`` x ``per_file`` frames with unique keys ``k<seed>-<id>``."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(files):
        rids = list(range(f * per_file, (f + 1) * per_file))
        table = _frames(seed, f, rids, [BASE_TS_US + r * 1000 for r in rids], rids[0])
        _write_atomic(table, os.path.join(out_dir, f"wire-{f:04d}.parquet"))
    return files * per_file


def stream_file_table(seed: int, file_no: int, per_file: int, retry_share: float,
                      stream_id: int) -> pa.Table:
    """Stream file ``file_no``: ``per_file`` fresh records, then re-sends of
    records from the previous three files (same key, same value, later in
    event time), as a producer retry after a lost acknowledgement. File
    ``f`` covers event time ``[f, f+1)`` x 100 ms, so every retry lands
    well inside a watermark delay of seconds. ``stream_id`` keeps the key
    spaces of the streams of one run disjoint."""

    def fresh(f: int) -> pa.Table:
        first = stream_id * 10_000_000 + f * per_file
        t_file = BASE_TS_US + f * 100_000
        ts = [t_file + j * (50_000 // per_file) for j in range(per_file)]
        return _frames(seed, stream_id * 100_000 + f, list(range(first, first + per_file)), ts, first)

    table = fresh(file_no)
    n_retry = int(per_file * retry_share) if file_no > 0 else 0
    if n_retry:
        rng = random.Random(f"retry:{seed}:{stream_id}:{file_no}")
        picks = sorted((rng.randint(1, min(3, file_no)), rng.randrange(per_file)) for _ in range(n_retry))
        parts = []
        for back in sorted({b for b, _ in picks}):
            parts.append(fresh(file_no - back).take([j for b, j in picks if b == back]))
        retries = pa.concat_tables(parts)
        t_retry = BASE_TS_US + file_no * 100_000 + 60_000
        retries = retries.set_column(
            retries.schema.get_field_index("timestamp"), "timestamp",
            pa.array([t_retry + j for j in range(n_retry)], WIRE_SCHEMA.field("timestamp").type),
        )
        table = pa.concat_tables([table, retries])
    offsets = pa.array(range(file_no * per_file * 2, file_no * per_file * 2 + table.num_rows), pa.int64())
    return table.set_column(table.schema.get_field_index("offset"), "offset", offsets)


def write_stream_files(out_dir: str, seed: int, files: int, per_file: int, retry_share: float,
                       stream_id: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f in range(files):
        _write_atomic(
            stream_file_table(seed, f, per_file, retry_share, stream_id),
            os.path.join(out_dir, f"s-{f:05d}.parquet"),
        )


def docs_corpus(seed: int, n_docs: int, n_pairs: int, vocab: int = 6000) -> tuple[list, list]:
    """(docs, planted): ``n_docs`` documents of 60-140 single-space separated
    words, ``2 * n_pairs`` of which form planted pairs, each a fresh base
    document and a copy with 1-8 words substituted (shingle Jaccard between
    about 0.6 and 0.97 at k=3). Words come from a large random vocabulary,
    so unplanted documents share almost no 3-word shingle."""
    rng = random.Random(f"docs:{seed}")
    words = _vocab(seed, vocab)

    def doc() -> list[str]:
        return [rng.choice(words) for _ in range(rng.randint(60, 140))]

    docs = [" ".join(doc()) for _ in range(n_docs - 2 * n_pairs)]
    planted = []
    for _ in range(n_pairs):
        base = doc()
        twin = list(base)
        for _ in range(rng.randint(1, 8)):
            twin[rng.randrange(len(twin))] = rng.choice(words)
        a = len(docs)
        docs.append(" ".join(base))
        docs.append(" ".join(twin))
        planted.append((a, a + 1))
    # Shuffle ids so planted pairs are not adjacent rows of one file.
    new_id = list(range(len(docs)))
    rng.shuffle(new_id)
    shuffled = [""] * len(docs)
    for old, text in enumerate(docs):
        shuffled[new_id[old]] = text
    return shuffled, sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in planted)


def write_docs(out_dir: str, seed: int, n_docs: int, n_pairs: int, files: int) -> list:
    os.makedirs(out_dir, exist_ok=True)
    docs, planted = docs_corpus(seed, n_docs, n_pairs)
    per = -(-len(docs) // files)
    for f in range(files):
        ids = list(range(f * per, min(len(docs), (f + 1) * per)))
        t = pa.table({"doc_id": ids, "text": [docs[i] for i in ids]}, schema=DOCS_SCHEMA)
        _write_atomic(t, os.path.join(out_dir, f"docs-{f:03d}.parquet"))
    return planted


def feed(out_dir: str, seed: int, files: int, per_file: int, retry_share: float,
         stream_id: int, rate: float, report: str) -> None:
    """Open-loop producer: file ``i`` is due at ``t0 + i / rate`` (wall
    clock) whatever the consumer is doing. All files are built before
    ``t0`` so the schedule only pays for the writes; ``report`` gets every
    due time and how late the producer ran."""
    tables = [stream_file_table(seed, i, per_file, retry_share, stream_id) for i in range(files)]
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time() + 0.05
    due, late = [], []
    for i, table in enumerate(tables):
        d = t0 + i / rate
        wait = d - time.time()
        if wait > 0:
            time.sleep(wait)
        _write_atomic(table, os.path.join(out_dir, f"s-{i:05d}.parquet"))
        due.append(d)
        late.append(max(0.0, time.time() - d))
    with open(report + ".tmp", "w") as fh:
        json.dump({"due": due, "late_ms_max": 1000 * max(late),
                   "records": sum(t.num_rows for t in tables)}, fh)
    os.rename(report + ".tmp", report)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="open-loop stream producer")
    f.add_argument("--dir", required=True)
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--files", type=int, required=True)
    f.add_argument("--per-file", type=int, required=True)
    f.add_argument("--retry-share", type=float, required=True)
    f.add_argument("--stream-id", type=int, required=True)
    f.add_argument("--rate", type=float, required=True, help="files per second")
    f.add_argument("--report", required=True)
    a = ap.parse_args()
    feed(a.dir, a.seed, a.files, a.per_file, a.retry_share, a.stream_id, a.rate, a.report)


if __name__ == "__main__":
    main()
