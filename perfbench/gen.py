"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.Generator(PCG64(seed))`` and
writes parquet with fixed writer options, so one seed gives byte-identical
files; ``checksum`` hashes a generated directory to prove it. The engine
under test only ever sees these files. Each generator also returns the
planted truth (counts, pairs) that the output checks compare against.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic and size properties, one dict per workload family. README.md
# explains why each value was chosen.
INGEST = {
    "rows_per_file": 1000,         # events per file
    "files": 36,                   # files on disk at start
    "batches": 3,                  # maxFilesPerTrigger = files / batches
    "warm_files": 6,               # warm-up stream, drained once
    "users": 2000,                 # distinct Kafka keys
    "zipf_s": 1.1,                 # key skew: P(user k) ~ 1 / k^s
    "event_s_per_file": 5,         # event-time span of one file, seconds
    "out_of_order_share": 0.015,   # shifted back 5-20 s: inside the watermark
    "very_late_share": 0.005,      # an hour old: dropped by the watermark
    "duplicate_share": 0.01,       # re-sent events of the previous file
    "malformed_share": 0.01,       # truncated JSON payloads
}
CURATION = {
    "docs": 2400,                  # base documents before planted copies
    "words_per_doc": 40,
    "vocab": 6000,
    "near_dup_pairs": 240,         # a document and a copy with one word changed
    "semantic_pairs": 240,         # different text, embedding cosine > 0.95
    "exact_copies": 150,           # verbatim re-posts of random documents
    "non_english": 80,             # documents with foreign stopwords only
    "low_quality": 80,             # short repetitive documents
    "dim": 32,
}
GRAPH = {
    "customers": 1200,
    "suppliers": 400,
    "supplier_zipf_s": 0.9,        # degree skew on the supplier side
    "orders_per_customer": (1, 3),
    "small_seed_mod": 12,          # customers with id % 12 == 0 (bitset path)
    "large_seeds": 4200,           # > 4096: the row-form fallback
    "k": 3,
}

T0_US = 1_704_067_200_000_000      # 2024-01-01 00:00:00 UTC, microseconds
SUPPLIER_BASE = 1_000_000


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True, version="2.6")


def _zipf(rng, n_items, s, size):
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def checksum(root):
    """sha256 over every file under ``root``: relative path plus bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ingest_files(seed, n_files, rows_per_file, out_dir, stream=0):
    """Event files events-00000.parquet .. in the replay's `events` schema.

    File i covers event time [i, i+1) * event_s_per_file. Very late events
    appear only from the third batch's first file on: a batch filters late
    rows by the previous batch's watermark (SPARK-40925), so the batch that
    reads them drops them. Duplicates copy rows of the previous file (same
    event_id), inside the dedup horizon.
    Returns the per-file row counts.
    """
    p = INGEST
    rng = _rng(seed, 100 + stream)
    os.makedirs(out_dir, exist_ok=True)
    span_us = p["event_s_per_file"] * 1_000_000
    late_from = 2 * (p["files"] // p["batches"])
    next_id = stream * 10_000_000
    prev = None
    counts = []
    for i in range(n_files):
        n = rows_per_file
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        base = T0_US + i * span_us
        # millisecond precision, as the replay truncates to ms
        ts = base + rng.integers(0, span_us // 1000, n) * 1000
        kind = rng.random(n)
        ooo = kind < p["out_of_order_share"]
        ts = np.where(ooo, ts - rng.integers(5_000, 20_000, n) * 1000, ts)
        if i >= late_from:
            late = (kind >= p["out_of_order_share"]) & (
                kind < p["out_of_order_share"] + p["very_late_share"])
            ts = np.where(late, T0_US - 3_600_000_000
                          + rng.integers(0, 60_000, n) * 1000, ts)
        users = _zipf(rng, p["users"], p["zipf_s"], n).astype(np.int64)
        values = np.round(rng.random(n) * 500.0, 2)
        types = np.array(["view", "click", "cart", "purchase"])[
            rng.integers(0, 4, n)]
        props = [f'{{"u": {u}, "v": {v:.2f}, "t": "{t}"}}'
                 for u, v, t in zip(users.tolist(), values.tolist(),
                                    types.tolist())]
        bad = rng.random(n) < p["malformed_share"]
        props = [s[:-1] if b else s for s, b in zip(props, bad.tolist())]
        cols = {
            "event_id": ids,
            "ts": ts,
            "user_id": users,
            "event_type": np.array([f"u{u:05d}" for u in users.tolist()]),
            "value": values,
            "props": np.array(props, dtype=object),
        }
        if prev is not None:
            dup = rng.random(len(prev["event_id"])) < p["duplicate_share"]
            for k in cols:
                cols[k] = np.concatenate([cols[k], prev[k][dup]])
        prev = {k: v[: n] for k, v in cols.items()}
        table = pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"].tolist(), pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"].tolist(), pa.string()),
        })
        _write(table, os.path.join(out_dir, f"events-{i:05d}.parquet"))
        counts.append(table.num_rows)
    return counts


def _doc(rng, vocab, n):
    # distinct words, one or two English stopwords so lang-ID says "en"
    words = rng.choice(vocab, size=n, replace=False).tolist()
    for pos, sw in zip(rng.choice(n, size=2, replace=False).tolist(),
                       ("the", "of")):
        words[pos] = sw
    return words


def _scaled(params, scale, keys):
    return {k: (max(1, int(v * scale)) if k in keys else v)
            for k, v in params.items()}


def corpus_rows(in_dir):
    return pq.ParquetFile(os.path.join(in_dir, "corpus.parquet")) \
        .metadata.num_rows


def curation_corpus(seed, out_dir, scale=1.0):
    """corpus.parquet (doc_id, text, embedding) plus the planted truth.

    Planted: near-duplicate pairs (one word substituted), semantic pairs
    (unrelated text, embedding cosine > 0.95), verbatim copies, non-English
    and low-quality documents. Every planted pair has its own base
    document, so the pairs never chain into larger components: the
    connected-components rounds, and with them the job count, are the same
    for every seed.
    """
    p = _scaled(CURATION, scale, ("docs", "near_dup_pairs", "semantic_pairs",
                                  "exact_copies", "non_english",
                                  "low_quality"))
    rng = _rng(seed, 200)
    os.makedirs(out_dir, exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({"".join(rng.choice(letters, size=int(k)))
                             for k in rng.integers(4, 10, p["vocab"] * 2)}))
    vocab = vocab[: p["vocab"]]
    docs, embs = [], []

    def add(words, emb):
        docs.append(" ".join(words))
        embs.append(emb)
        return len(docs) - 1

    def rand_emb():
        return rng.standard_normal(p["dim"])

    for _ in range(p["docs"]):
        add(_doc(rng, vocab, p["words_per_doc"]), rand_emb())
    bases = rng.choice(p["docs"], size=p["near_dup_pairs"] +
                       p["semantic_pairs"], replace=False).tolist()
    text_pairs = []
    for base in bases[: p["near_dup_pairs"]]:
        words = docs[base].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        text_pairs.append((base, add(words, rand_emb())))
    sem_pairs = []
    for a in bases[p["near_dup_pairs"]:]:
        e = embs[a] + rng.standard_normal(p["dim"]) * 0.12
        sem_pairs.append((a, add(_doc(rng, vocab, p["words_per_doc"]), e)))
    # copies only of documents outside the planted pairs, so every
    # planted pair survives exact dedup whichever copy keeps the lower id
    involved = {x for pr in text_pairs + sem_pairs for x in pr}
    free = [i for i in range(p["docs"]) if i not in involved]
    for a in rng.choice(free, size=p["exact_copies"], replace=False).tolist():
        add(docs[a].split(" "), rand_emb())
    foreign = ["der", "die", "und", "ist", "le", "la", "et", "est"]
    for _ in range(p["non_english"]):
        words = rng.choice(vocab, size=p["words_per_doc"] - 4,
                           replace=False).tolist()
        words += rng.choice(foreign, size=4, replace=False).tolist()
        add(words, rand_emb())
    for _ in range(p["low_quality"]):
        w = str(rng.choice(vocab))
        add(["the", w, w, w, w, w], rand_emb())
    # shuffle ids so planted structure is not id-ordered
    perm = rng.permutation(len(docs))
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[perm] = np.arange(len(docs))
    table = pa.table({
        "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
        "text": pa.array([docs[i] for i in perm.tolist()], pa.string()),
        "embedding": pa.array([np.round(embs[i], 6).tolist()
                               for i in perm.tolist()],
                              pa.list_(pa.float64())),
    })
    _write(table, os.path.join(out_dir, "corpus.parquet"))

    def remap(pairs):
        return sorted(tuple(sorted((int(new_id[a]), int(new_id[b]))))
                      for a, b in pairs)
    return {"text_pairs": remap(text_pairs), "semantic_pairs": remap(sem_pairs)}


def graph_edges(seed, out_dir, scale=1.0):
    """Bipartite customer<->supplier order graph (both directions) and the
    two seed sets on either side of the 4096-seed width guard."""
    # the large seed set keeps its size at any scale, so the warm-up takes
    # the same side of the width guard; seeds past the last customer are
    # isolated nodes
    p = _scaled(GRAPH, scale, ("customers", "suppliers"))
    rng = _rng(seed, 300)
    os.makedirs(out_dir, exist_ok=True)
    # Fixed degree sequences, so every seed gives the same graph shape and
    # only the wiring changes: customer i places lo + i % (hi - lo + 1)
    # orders, supplier j receives orders in proportion to 1 / (j+1)^s.
    lo, hi = p["orders_per_customer"]
    n_orders = lo + np.arange(p["customers"]) % (hi - lo + 1)
    cust = rng.permutation(np.repeat(np.arange(p["customers"], dtype=np.int64),
                                     n_orders))
    w = 1.0 / np.arange(1, p["suppliers"] + 1) ** p["supplier_zipf_s"]
    share = np.floor(w / w.sum() * len(cust)).astype(np.int64)
    share[: len(cust) - share.sum()] += 1
    supp = SUPPLIER_BASE + np.repeat(np.arange(p["suppliers"], dtype=np.int64),
                                     share)
    pairs = np.unique(np.stack([cust, supp], axis=1), axis=0)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]])
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
    order = np.lexsort((dst, src))
    _write(pa.table({"src": pa.array(src[order], pa.int64()),
                     "dst": pa.array(dst[order], pa.int64())}),
           os.path.join(out_dir, "edges.parquet"))
    small = np.arange(0, p["customers"], p["small_seed_mod"], dtype=np.int64)
    large = np.sort(rng.choice(max(p["customers"], p["large_seeds"]),
                               size=p["large_seeds"],
                               replace=False)).astype(np.int64)
    _write(pa.table({"seed": pa.array(small, pa.int64())}),
           os.path.join(out_dir, "seeds_small.parquet"))
    _write(pa.table({"seed": pa.array(large, pa.int64())}),
           os.path.join(out_dir, "seeds_large.parquet"))
    return {"edges": int(len(src)), "small_seeds": int(len(small)),
            "large_seeds": int(len(large))}
