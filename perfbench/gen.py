"""Seeded input generator for the benchmark.

Everything the workloads read is derived from one integer seed, so the same
seed always yields byte-identical inputs:

* ``ledger.parquet``: a day-partitionable pipeline-run ledger (the schema of
  ``graft.model.Schemas.pipelineRunSchema``) with planted gaps and overlaps;
* ``batches/bNNNN.parquet``: ingest batches of new runs, a stated share of
  which replay ``record_id`` values already offered;
* ``dup/`` and ``distinct/``: two equal-size curation corpora
  (``documents.parquet`` + ``embeddings.parquet``), one heavy in exact and
  near duplicates, one with neither exact duplicates nor planted near
  duplicates;
* ``props.json``: the measured properties of all of the above.

Usage: python3 perfbench/gen.py SEED OUT_DIR
"""
import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A later claim is confirmed on this second seed as well as the one it was
# measured on.
CONFIRM_SEED = 7

LEDGER = dict(pipelines=24, indexes=5, days=30, windows_per_day=8,
              gap_rate=0.04, overlap_rate=0.04)
STATUSES = ["pending", "in_progress", "completed", "failed"]
STATUS_WEIGHTS = [0.10, 0.05, 0.80, 0.05]
LEDGER_START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
INGEST = dict(batches=400, rows=16, replay_share=0.25, slot_minutes=20)
CORPUS = dict(docs=400, vectors=200, dim=64, exact_dup_share=0.30,
              near_dup_share=0.20, near_dup_edit=0.04)
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash data column "
         "order join small line customer query batch window spark sort group "
         "merge stream big filter vector index shard token model train eval "
         "split chunk cache spill").split()

LEDGER_SCHEMA = pa.schema([
    ("record_id", pa.int64()),
    ("pipeline_name", pa.string()),
    ("index_name", pa.string()),
    ("query_window_start_ts", pa.timestamp("us", tz="UTC")),
    ("query_window_end_ts", pa.timestamp("us", tz="UTC")),
    ("query_window_start_day", pa.date32()),
    ("query_window_end_day", pa.date32()),
    ("pipeline_status", pa.string()),
    ("records_count", pa.float64()),
])


def pipelines():
    return [f"pipe_{p:02d}" for p in range(LEDGER["pipelines"])]


def indexes():
    return [f"idx_{i}" for i in range(LEDGER["indexes"])]


US_PER_DAY = 86_400_000_000


def _table(rid, pipe, idx, start_us, end_us, status, counts):
    """A ledger table from column arrays; timestamps in epoch microseconds."""
    return pa.table({
        "record_id": pa.array(rid, pa.int64()),
        "pipeline_name": pa.array(pipe, pa.string()),
        "index_name": pa.array(idx, pa.string()),
        "query_window_start_ts": pa.array(start_us, pa.timestamp("us", tz="UTC")),
        "query_window_end_ts": pa.array(end_us, pa.timestamp("us", tz="UTC")),
        "query_window_start_day": pa.array((start_us // US_PER_DAY).astype(np.int32), pa.date32()),
        "query_window_end_day": pa.array((end_us // US_PER_DAY).astype(np.int32), pa.date32()),
        "pipeline_status": pa.array(status, pa.string()),
        "records_count": pa.array(counts, pa.float64()),
    }, schema=LEDGER_SCHEMA)


def make_ledger(rng):
    """Windows of 3 h tile each (pipeline, index, day); a planted share is
    dropped (a gap) or starts 30 min early (an overlap with its predecessor)."""
    nw = LEDGER["windows_per_day"]
    p, i, d, w = (a.ravel() for a in np.meshgrid(
        np.arange(LEDGER["pipelines"]), np.arange(LEDGER["indexes"]),
        np.arange(LEDGER["days"]), np.arange(nw), indexing="ij"))
    u = rng.random(p.size)
    gap = (w > 0) & (u < LEDGER["gap_rate"])
    overlap = (w > 0) & ~gap & (u < LEDGER["gap_rate"] + LEDGER["overlap_rate"])
    width = US_PER_DAY // nw
    t0 = int(LEDGER_START.timestamp() * 1_000_000)
    start = t0 + d * US_PER_DAY + w * width - overlap * 30 * 60_000_000
    end = t0 + d * US_PER_DAY + (w + 1) * width
    status = rng.choice(4, p.size, p=STATUS_WEIGHTS)
    counts = rng.integers(0, 100_000, p.size).astype(np.float64)
    keep = ~gap
    n = int(keep.sum())
    table = _table(np.arange(1, n + 1), np.array(pipelines())[p[keep]],
                   np.array(indexes())[i[keep]], start[keep], end[keep],
                   np.array(STATUSES)[status[keep]], counts[keep])
    return table, int(gap.sum()), int(overlap.sum())


def make_batches(rng, first_id):
    """Batch k covers the 20-minute slot after the ledger's last day; its
    replays repeat rows of batch k-1 (batch 0 replays its own rows), so the
    stream's watermark still holds them and dedup must drop them."""
    slot = INGEST["slot_minutes"] * 60_000_000
    t0 = int((LEDGER_START + dt.timedelta(days=LEDGER["days"])).timestamp() * 1_000_000)
    n_replay = int(round(INGEST["rows"] * INGEST["replay_share"]))
    n_new = INGEST["rows"] - n_replay
    pipes, idxs = np.array(pipelines()), np.array(indexes())
    out, prev = [], None
    for k in range(INGEST["batches"]):
        start = t0 + k * slot + np.sort(rng.integers(0, slot // 1_000_000, n_new)) * 1_000_000
        fresh = _table(first_id + k * n_new + np.arange(n_new),
                       pipes[rng.integers(0, len(pipes), n_new)],
                       idxs[rng.integers(0, len(idxs), n_new)],
                       start, start + 3 * 3_600_000_000,
                       np.array(STATUSES)[rng.choice(4, n_new, p=STATUS_WEIGHTS)],
                       rng.integers(0, 100_000, n_new).astype(np.float64))
        src = fresh if prev is None else prev
        pick = np.sort(rng.choice(n_new, n_replay, replace=False))
        out.append(pa.concat_tables([fresh, src.take(pick)]))
        prev = fresh
    return out


def _words(rng, n):
    return [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]


def make_corpus(rng, dup):
    """``dup``: 30 % exact copies and 20 % near copies (4 % of words
    replaced) of earlier documents and vectors. ``distinct``: every text and
    vector is fresh; near duplicates arise only from the threshold tail."""
    n, nv, dim = CORPUS["docs"], CORPUS["vectors"], CORPUS["dim"]
    texts, kinds = [], []
    seen = set()
    for d in range(n):
        u = rng.random()
        if dup and d > 0 and u < CORPUS["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, d))])
            kinds.append("exact")
            continue
        if dup and d > 0 and u < CORPUS["exact_dup_share"] + CORPUS["near_dup_share"]:
            words = texts[int(rng.integers(0, d))].split(" ")
            for j in rng.choice(len(words), max(1, int(len(words) * CORPUS["near_dup_edit"])),
                                replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            kinds.append("near")
            continue
        while True:
            t = " ".join(_words(rng, int(rng.integers(10, 101))))
            if t not in seen:
                break
        texts.append(t)
        kinds.append("fresh")
        seen.add(t)
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = np.zeros((nv, dim), dtype=np.float32)
    vkinds = []
    for v in range(nv):
        u = rng.random()
        if dup and v > 0 and u < CORPUS["exact_dup_share"]:
            vecs[v] = vecs[int(rng.integers(0, v))]
            vkinds.append("exact")
        elif dup and v > 0 and u < CORPUS["exact_dup_share"] + CORPUS["near_dup_share"]:
            x = vecs[int(rng.integers(0, v))] + rng.normal(0, 0.02, dim).astype(np.float32)
            vecs[v] = x / np.linalg.norm(x)
            vkinds.append("near")
        else:
            x = rng.normal(0, 1, dim).astype(np.float32)
            vecs[v] = x / np.linalg.norm(x)
            vkinds.append("fresh")
    emb = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([list(map(float, r)) for r in vecs], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    props = {
        "docs": n, "vectors": nv, "dim": dim,
        "distinct_texts": len(set(texts)),
        "exact_dup_share": kinds.count("exact") / n,
        "near_dup_share": kinds.count("near") / n,
        "vector_exact_dup_share": vkinds.count("exact") / nv,
        "vector_near_dup_share": vkinds.count("near") / nv,
    }
    return docs, emb, props


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def generate(seed, out):
    """Write every input for ``seed`` under ``out``; returns the properties."""
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    ledger, gaps, overlaps = make_ledger(rng)
    props = {"seed": seed, "confirm_seed": CONFIRM_SEED}
    lb = _write(ledger, os.path.join(out, "ledger.parquet"))
    props["ledger"] = dict(LEDGER, rows=ledger.num_rows, bytes=lb,
                           day_partitions=LEDGER["days"],
                           planted_gaps=gaps, planted_overlaps=overlaps)
    batches = make_batches(np.random.default_rng([seed, 2]),
                           int(max(ledger.column("record_id").to_pylist())) + 1)
    bb = sum(_write(b, os.path.join(out, "batches", f"b{k:04d}.parquet"))
             for k, b in enumerate(batches))
    props["ingest"] = dict(INGEST, bytes=bb)
    for name, dup in (("dup", True), ("distinct", False)):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        docs, emb, cp = make_corpus(np.random.default_rng([seed, 3, int(dup)]), dup)
        cp["bytes"] = (_write(docs, os.path.join(out, name, "documents.parquet"))
                       + _write(emb, os.path.join(out, name, "embeddings.parquet")))
        props[name] = cp
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


def digest(out):
    """Content hash of every generated file, for determinism checks."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


if __name__ == "__main__":
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2]), sort_keys=True))
