"""The benchmark's inputs: `graft.tools.ScaleGen`'s corpora, made in Python.

ScaleGen derives every cell from Spark's `xxhash64(seed, tag, id[, i])`
(no RNG state), so the same logic in numpy gives byte-identical column
values without starting a Spark application for each run (a ScaleGen JVM
takes about 15 s on 4 cores). The files carry the test data's physical
types (`ts` timestamp[us], `n_chars` int64). `selfcheck.py` compares the
values with ScaleGen's own output.

    documents(seed, n_docs)                    -> dict of columns
    events(seed, n_events, n_users)            -> dict of columns
    tables(out_dir, seed, n_docs, n_events, n_users)
        writes documents.parquet and events.parquet (the two tables the
        query_short queries read)

Sizes: ScaleGen's x1 corpus (5,000 docs, 100,000 events, 1,500 users) is
the sf0.1 shape of the test data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ScaleGen.Vocab, in its order (element_at indexes into it).
VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
         "hash", "merge", "batch", "spark", "line", "sort", "window", "plan",
         "join", "shard", "block", "page", "index", "probe", "build", "spill",
         "cache", "codec", "split", "stage", "task", "query"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "error", "login"]
SF01 = {"n_docs": 5000, "n_events": 100000, "n_users": 1500}

# ---------------------------------------------- Spark's XXH64 (catalyst)
M64 = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42


def _rotl(x, r):
    if isinstance(x, np.ndarray):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))
    return ((x << r) | (x >> (64 - r))) & M64


def _fmix(h):
    if isinstance(h, np.ndarray):
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(P2)
        h = h ^ (h >> np.uint64(29))
        h = h * np.uint64(P3)
        return h ^ (h >> np.uint64(32))
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    return h ^ (h >> 32)


def hash_long(v, seed):
    """XXH64.hashLong: `v` and `seed` are Python ints or uint64 arrays."""
    if isinstance(v, np.ndarray) or isinstance(seed, np.ndarray):
        v = np.asarray(v).astype(np.uint64)
        seed = np.asarray(seed).astype(np.uint64)
        h = seed + np.uint64(P5 + 8)
        h = h ^ (_rotl(v * np.uint64(P2), 31) * np.uint64(P1))
        return _fmix(_rotl(h, 27) * np.uint64(P1) + np.uint64(P4))
    v &= M64
    h = (seed + P5 + 8) & M64
    h ^= (_rotl((v * P2) & M64, 31) * P1) & M64
    return _fmix((_rotl(h, 27) * P1 + P4) & M64)


def hash_bytes(b, seed):
    """XXH64.hashUnsafeBytes for inputs shorter than 32 bytes."""
    assert len(b) < 32
    h = (seed + P5 + len(b)) & M64
    i = 0
    while i + 8 <= len(b):
        k = int.from_bytes(b[i:i + 8], "little")
        h ^= (_rotl((k * P2) & M64, 31) * P1) & M64
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= len(b):
        h ^= (int.from_bytes(b[i:i + 4], "little") * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < len(b):
        h ^= (b[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    return _fmix(h)


def _prefix(seed, tag):
    """The running hash after `xxhash64(lit(seed), lit(tag), ...)`'s first two arguments."""
    return hash_bytes(tag.encode(), hash_long(seed, SPARK_HASH_SEED))


def _pmod(h, m):
    return np.mod(h.view(np.int64), np.int64(m))


def h(seed, tag, ids, m):
    """ScaleGen's `h(tag, id, m)` = pmod(xxhash64(seed, tag, id), m)."""
    return _pmod(hash_long(ids, np.uint64(_prefix(seed, tag))), m)


# ------------------------------------------------------------- corpora

def documents(seed, n_docs):
    """ScaleGen's documents: every 100th
    doc an exact dup of its predecessor, every other 50th a near dup (the
    predecessor with its last word replaced by `offword`)."""
    doc_id = np.arange(n_docs, dtype=np.int64)
    dup = (doc_id % 100 == 99) | (doc_id % 50 == 49)
    base = np.where(dup, doc_id - 1, doc_id)
    n_words = 10 + h(seed, "len", base, 100)
    # word i (1-based) of doc d: Vocab[pmod(xxhash64(seed, "w", base_id, i), |Vocab|)]
    rep_base = np.repeat(base, n_words)
    ends = np.cumsum(n_words)
    i = np.arange(ends[-1] if n_docs else 0, dtype=np.int64) - np.repeat(ends - n_words, n_words) + 1
    w = _pmod(hash_long(i, hash_long(rep_base, np.uint64(_prefix(seed, "w")))), len(VOCAB))
    near = (doc_id % 50 == 49) & (doc_id % 100 != 99)
    texts = []
    for d in range(n_docs):
        words = [VOCAB[k] for k in w[ends[d] - n_words[d]:ends[d]]]
        if near[d]:
            words[-1] = "offword"
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in h(seed, "lang", doc_id, 6)]),
        "source": pa.array([f"src{k}" for k in h(seed, "src", doc_id, 20)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def events(seed, n_events, n_users):
    """ScaleGen's events: `ts` about one second apart with hash jitter."""
    eid = np.arange(n_events, dtype=np.int64)
    ts = 1704067200000000 + eid * 1000000 + h(seed, "jit", eid, 1000000)
    return {
        "event_id": pa.array(eid),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(h(seed, "usr", eid, n_users)),
        "event_type": pa.array([EVENT_TYPES[k] for k in h(seed, "typ", eid, 5)]),
        "value": pa.array(h(seed, "val", eid, 20000).astype(np.float64) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in h(seed, "prp", eid, 100)]),
    }


def tables(out_dir, seed, n_docs, n_events, n_users):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(documents(seed, n_docs)), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table(events(seed, n_events, n_users)), os.path.join(out_dir, "events.parquet"))
