"""Seeded input generator for the benchmark workloads.

Everything the program reads is made here from `--seed` and the sf0.1
`events` and `documents` tables of the repository's deterministic test
data (seed 42), which `fixtures/` holds byte for byte. The same seed
gives byte-identical files, another seed gives different ones.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
DAY_US = 86_400_000_000
EVENT_DAYS = 30                # the fixture's events span 30 days

MEDALLION_SLICES = 48          # more than any run lands
DUP_SHARE = 0.04               # in-slice re-sends of the same event_id
CORRECTION_SHARE = 0.03        # re-sends of an earlier slice's event_id
REPLAY_ID_OFFSET = 10_000_000  # added to event ids per 30-day replay
INDEX_CYCLES = 40              # more than any run executes
INDEX_BATCH_DOCS = 100
INDEX_BATCH_ID0 = 1_000_000
INDEX_DELETES = 20
INDEX_QUERIES = 4


def rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def fixture(name):
    return pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def with_column(table, name, values):
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i),
                            pa.array(values, table.schema.field(i).type))


def medallion_inputs(seed, out):
    """Event slices landed one per increment.

    Slice k is fixture day (start + k) mod 30, for a seeded start day;
    from the second pass over the 30 days on, `ts` is shifted by whole
    30-day periods and ids are offset, so landed time only moves
    forward. A seeded share of each slice re-sends an in-slice event_id
    with a later `ts` (a duplicate) or an earlier slice's event_id with a
    `ts` inside this slice's day (a correction), carrying the other
    columns of a random row of the slice: keep-latest must resolve both.
    """
    ev = fixture("events")
    ts_all = ev["ts"].cast(pa.int64()).to_numpy()
    day = (ts_all - ts_all.min() // DAY_US * DAY_US) // DAY_US
    r = rng(seed, 5)
    start = int(r.integers(0, EVENT_DAYS))
    slices, landed_ids, seen = [], [], 0
    for k in range(MEDALLION_SLICES):
        rep, d = divmod(start + k, EVENT_DAYS)
        sl = ev.take(np.flatnonzero(day == d))
        ids = sl["event_id"].to_numpy() + rep * REPLAY_ID_OFFSET
        ts = sl["ts"].cast(pa.int64()).to_numpy() + rep * EVENT_DAYS * DAY_US
        sl = with_column(with_column(sl, "event_id", ids), "ts", ts)
        n = sl.num_rows
        day_lo = ts.min() // DAY_US * DAY_US

        dup = r.choice(n, int(n * DUP_SHARE), replace=False)
        # a later ts, still inside the day, never equal to the original
        room = day_lo + DAY_US - 1 - ts[dup]
        later = ts[dup] + 1 + (r.random(len(dup)) * np.maximum(room - 1, 0)
                               ).astype("int64")
        extra = with_column(with_column(sl.take(r.integers(0, n, len(dup))),
                                        "event_id", ids[dup]), "ts", later)
        parts = [sl, extra]
        if landed_ids:
            prev = np.concatenate(landed_ids)
            nc = int(n * CORRECTION_SHARE)
            corr = sl.take(r.integers(0, n, nc))
            corr = with_column(corr, "event_id", r.choice(prev, nc, replace=False))
            corr = with_column(corr, "ts", day_lo + r.integers(0, DAY_US, nc))
            parts.append(corr)
        merged = pa.concat_tables(parts)
        order = np.argsort(merged["ts"].cast(pa.int64()).to_numpy(), kind="stable")
        merged = merged.take(order)
        path = f"{out}/slices/slice_{k:05d}.parquet"
        write(merged, path)
        landed_ids.append(ids)
        seen += n
        slices.append({
            "file": os.path.relpath(path, out),
            "rows": merged.num_rows,
            "bytes": os.path.getsize(path),
            "max_ts_us": int(merged["ts"].cast(pa.int64()).to_numpy()[-1]),
            "distinct_ids_total": seen,
        })
    with open(f"{out}/medallion.json", "w") as f:
        json.dump({"slices": slices}, f, indent=1)


def index_inputs(seed, out):
    """Base corpus, streamed doc batches and the op plan.

    The base index is the fixture corpus. Each streamed batch resamples
    fixture documents under new ids; each query is a run of 3-12
    consecutive words of a random fixture text. The plan is a fixed
    sequence of cycles (ingest a batch, search a query batch, delete live
    ids); a run executes a prefix of it. Delete ids are drawn from the
    set live at that point of the plan.
    """
    docs = fixture("documents")
    os.makedirs(out, exist_ok=True)
    shutil.copyfile(os.path.join(FIXTURES, "documents.parquet"),
                    f"{out}/documents.parquet")
    texts = docs["text"].to_pylist()
    r = rng(seed, 6)
    live = docs["doc_id"].to_pylist()
    cycles = []
    for c in range(INDEX_CYCLES):
        ids = INDEX_BATCH_ID0 + c * INDEX_BATCH_DOCS + np.arange(INDEX_BATCH_DOCS)
        batch = with_column(docs.take(r.integers(0, len(texts), len(ids))),
                            "doc_id", ids)
        path = f"{out}/batches/batch_{c:05d}.parquet"
        write(batch, path)
        live.extend(int(i) for i in ids)
        queries = []
        for q in range(INDEX_QUERIES):
            words = texts[r.integers(0, len(texts))].split()
            n = int(r.integers(3, 13))
            at = int(r.integers(0, max(1, len(words) - n + 1)))
            queries.append([c * 100 + q, " ".join(words[at:at + n])])
        pick = r.choice(len(live), INDEX_DELETES, replace=False)
        deletes = sorted(live[i] for i in pick)
        gone = set(deletes)
        live = [i for i in live if i not in gone]
        cycles.append({
            "batch": os.path.relpath(path, out),
            "batch_bytes": os.path.getsize(path),
            "ids": [int(i) for i in ids],
            "queries": queries,
            "deletes": deletes,
        })
    with open(f"{out}/index_plan.json", "w") as f:
        json.dump({"base_ids": docs["doc_id"].to_pylist(), "cycles": cycles}, f)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "medallion":
        medallion_inputs(seed, out)
    elif workload == "index":
        index_inputs(seed, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
