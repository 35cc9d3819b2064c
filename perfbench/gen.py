"""Seeded input generator for the benchmark workloads.

Every workload's inputs are a pure function of ``(workload, seed)``:
the same pair writes byte-identical files, a different seed writes
different ones. The schemas and value distributions are those of the
engine's sf0.1 test tables, measured once and written down below (and
in WORKLOADS.md) as constants, so the registry builders and their
DuckDB oracles run on the generated files unchanged and see the same
kind of data.

Only numpy and pyarrow are used here — generation never touches the
package or Spark, and its time is kept out of every metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change for an unchanged seed, so a
#: cached input set from an older generator is never reused
GEN_VERSION = 6

WORKLOADS = ("llm_pipeline", "mapreduce_jobs")

# --- the shape of the sf0.1 tables (measured; see WORKLOADS.md) ----------

#: sf0.1 ``documents``: 5,000 rows whose text is 10-100 words (uniform),
#: each drawn uniformly from these 30 words and joined by single spaces
SF_DOCS = 5000
DOC_WORDS = (10, 100)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
#: sf0.1's near-duplicates are 250 copies of other documents with this
#: word inserted at a random position; 8 more documents are exact copies
DUP_WORD = "dup"
SF_NEAR_DUP_SHARE = 250 / 5000
EXACT_DUP_SHARE = 8 / 5000
#: ``lang`` counts in sf0.1 (independent of the text); ``source`` is src<doc_id % 20>
LANG_COUNTS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
N_SOURCES = 20
#: sf0.1 ``embeddings``: 2,000 unit vectors of 64 dims, uniform on the
#: sphere (no cluster structure), labels 0-9 drawn independently
SF_EMBEDDINGS = 2000
EMB_DIM = 64
N_LABELS = 10
#: sf0.1 ``lineitem``: 600,000 rows; l_partkey uniform on [0, 20000),
#: l_suppkey uniform on [0, 1000)
SF_LINEITEM = 600_000
N_PART, N_SUPP = 20_000, 1000
#: sf0.1 ``events``: 100,000 rows over 30 days from 2024-01-01, 1,500
#: users, 5 event types, value ~ exponential with mean 50 in cents,
#: props '{"k": n}' with n in 0-99
SF_EVENTS = 100_000
EVENT_DAYS = 30
N_USERS = 1500
EVENT_VALUE_MEAN = 50.0
#: sf0.1 ``orders``: 150,000 rows, 15,000 customers, total price
#: uniform on [1000, 500000], order date uniform on 1995-01-01..2001-08-01
SF_ORDERS = 150_000
N_CUSTOMERS = 15_000

# --- workload sizes, as multiples of the sf0.1 tables ---------------------

#: llm_pipeline: documents and embeddings at this multiple of sf0.1;
#: this share of the documents are near-duplicate copies
LLM_SCALE = 0.25
LLM_NEAR_DUP_SHARE = 0.10
#: planted near-neighbours of each query vector (vec_id < 10)
LLM_QUERY_NEIGHBOURS = 5
N_QUERIES = 10
#: near-duplicate threshold of ``dedup_minhash_lsh`` (word-bigram Jaccard)
NEAR_DUP_J = 0.7

#: mapreduce_jobs: the documents' text as MR_DOC_FILES files, a lineitem
#: edge list as MR_EDGE_FILES files, and ``events`` and ``orders``, at
#: this multiple of sf0.1 (key ranges scale with it)
MR_SCALE = 0.5
MR_DOC_FILES = 8
MR_EDGE_FILES = 4

_EPOCH_DAY_US = 86_400 * 1_000_000
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _rng(workload: str, seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (workload, seed, purpose)."""
    digest = hashlib.sha256(f"{workload}:{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:16], "little")))


def shingles(words: list[str]) -> set[str]:
    """Distinct word-bigram shingles, as the dedup builders form them."""
    return {f"{a} {b}" for a, b in zip(words, words[1:])}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def _ts_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _write(table: pa.Table, path: str) -> None:
    # fixed writer options: same table -> same bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    idx = rng.integers(len(values), size=n)
    return pa.array(np.asarray(values, dtype=object)[idx].tolist(), type=pa.string())


# --- documents -----------------------------------------------------------


def _documents(rng: np.random.Generator, n_docs: int, near_dup_share: float):
    """``n_docs`` word lists in sf0.1's shape, ``near_dup_share`` of
    them near-duplicate copies (DUP_WORD inserted) and EXACT_DUP_SHARE
    exact copies of other documents, all in a seeded order. Returns the
    word lists and the (lower id, higher id, Jaccard) of every copy."""
    n_near = int(round(n_docs * near_dup_share))
    n_exact = int(round(n_docs * EXACT_DUP_SHARE))
    n_orig = n_docs - n_near - n_exact
    vocab = np.asarray(VOCAB, dtype=object)
    words = [
        vocab[rng.integers(len(VOCAB), size=int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)))].tolist()
        for _ in range(n_orig)
    ]
    sources = rng.choice(n_orig, size=n_near + n_exact, replace=False)
    copies = []
    for k, src in enumerate(sources.tolist()):
        w = list(words[src])
        if k < n_near:
            w.insert(int(rng.integers(len(w) + 1)), DUP_WORD)
        words.append(w)
        copies.append((src, len(words) - 1))
    order = rng.permutation(n_docs)  # position -> doc_id
    shuffled = [None] * n_docs
    for pos, doc_id in enumerate(order.tolist()):
        shuffled[doc_id] = words[pos]
    pairs = []
    for a, b in copies:
        ia, ib = int(order[a]), int(order[b])
        pairs.append((min(ia, ib), max(ia, ib), jaccard(words[a], words[b])))
    return shuffled, sorted(pairs)


def _documents_table(rng: np.random.Generator, words: list[list[str]]) -> pa.Table:
    texts = [" ".join(w) for w in words]
    n = len(texts)
    langs = list(LANG_COUNTS)
    weights = np.array(list(LANG_COUNTS.values()), dtype=float)
    lang_idx = rng.choice(len(langs), size=n, p=weights / weights.sum())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([langs[i] for i in lang_idx], type=pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


# --- llm_pipeline ----------------------------------------------------------


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors uniform on the sphere, plus LLM_QUERY_NEIGHBOURS
    planted near-neighbours (cosine about 0.97-0.998) of each query vector."""
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(N_LABELS, size=n).astype(np.int32)
    slots = rng.choice(np.arange(N_QUERIES, n), size=N_QUERIES * LLM_QUERY_NEIGHBOURS, replace=False)
    for q in range(N_QUERIES):
        for j in range(LLM_QUERY_NEIGHBOURS):
            s = int(slots[q * LLM_QUERY_NEIGHBOURS + j])
            noise = rng.normal(size=EMB_DIM)
            vecs[s] = vecs[q] + noise * rng.uniform(0.06, 0.25) / np.linalg.norm(noise)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def _gen_llm(out: str, seed: int) -> dict:
    rng = _rng("llm_pipeline", seed, "docs")
    n_docs = int(SF_DOCS * LLM_SCALE)
    words, copies = _documents(rng, n_docs, LLM_NEAR_DUP_SHARE)
    _write(_documents_table(rng, words), os.path.join(out, "documents.parquet"))
    n_emb = int(SF_EMBEDDINGS * LLM_SCALE)
    _write(_embeddings(_rng("llm_pipeline", seed, "embeddings"), n_emb),
           os.path.join(out, "embeddings.parquet"))
    return {
        "tables": {"documents": n_docs, "embeddings": n_emb},
        "input_rows": n_docs + n_emb,
        "near_dup_pairs": [[a, b] for a, b, j in copies if j >= NEAR_DUP_J],
        "near_dup_planted": len(copies),
    }


# --- mapreduce_jobs --------------------------------------------------------


def _orders(rng, n: int) -> pa.Table:
    start, end = _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)
    days = rng.integers(0, (end - start) // _EPOCH_DAY_US + 1, size=n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(N_CUSTOMERS * n // SF_ORDERS, size=n).astype(np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_001, size=n) / 100.0),
            "o_orderdate": _ts_array(start + days * _EPOCH_DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )


def _events(rng, n: int) -> pa.Table:
    start = _ts_us(2024, 1, 1)
    ts = np.sort(start + rng.integers(0, EVENT_DAYS * _EPOCH_DAY_US, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts_array(ts),
            "user_id": pa.array(rng.integers(N_USERS * n // SF_EVENTS, size=n).astype(np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(rng.exponential(EVENT_VALUE_MEAN, size=n).round(2)),
            "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(100, size=n)]),
        }
    )


def _write_lines(lines: list[str], n_files: int, out_dir: str, stem: str) -> None:
    os.makedirs(out_dir)
    per = -(-len(lines) // n_files)
    for f in range(n_files):
        with open(os.path.join(out_dir, f"{stem}-{f:03d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("".join(line + "\n" for line in lines[f * per:(f + 1) * per]))


def _gen_mapreduce(out: str, seed: int) -> dict:
    rng = _rng("mapreduce_jobs", seed, "text")
    n_docs = int(SF_DOCS * MR_SCALE)
    words, _copies = _documents(rng, n_docs, SF_NEAR_DUP_SHARE)
    _write_lines([" ".join(w) for w in words], MR_DOC_FILES, os.path.join(out, "docs"), "doc")
    # grep term: a seeded vocabulary word; "a" is left out because, as a
    # substring, it matches nearly every line
    term = str(rng.choice([w for w in VOCAB if len(w) > 1]))

    trng = _rng("mapreduce_jobs", seed, "tables")
    n_edges = int(SF_LINEITEM * MR_SCALE)
    src = trng.integers(int(N_PART * MR_SCALE), size=n_edges)
    dst = trng.integers(int(N_SUPP * MR_SCALE), size=n_edges)
    _write_lines([f"{a} {b}" for a, b in zip(src.tolist(), dst.tolist())],
                 MR_EDGE_FILES, os.path.join(out, "edges"), "edges")
    n_events, n_orders = int(SF_EVENTS * MR_SCALE), int(SF_ORDERS * MR_SCALE)
    _write(_events(trng, n_events), os.path.join(out, "events.parquet"))
    _write(_orders(trng, n_orders), os.path.join(out, "orders.parquet"))
    return {
        "tables": {"events": n_events, "orders": n_orders},
        "text_lines": {"docs": n_docs, "edges": n_edges},
        "input_rows": n_docs + n_edges + n_events + n_orders,
        "grep_term": term,
    }


_GENERATORS = {
    "llm_pipeline": _gen_llm,
    "mapreduce_jobs": _gen_mapreduce,
}


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n != "manifest.json":
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs for ``seed`` into the empty or
    absent directory ``out`` and return its manifest."""
    if workload not in _GENERATORS:
        raise KeyError(f"unknown workload {workload!r}; known: {WORKLOADS}")
    os.makedirs(out)
    manifest = _GENERATORS[workload](out, seed)
    n_files, n_bytes = _dir_bytes(out)
    manifest.update(
        {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
         "input_files": n_files, "input_bytes": n_bytes}
    )
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


def cached_inputs(workload: str, seed: int, cache_root: str, keep: int = 8) -> tuple[str, dict]:
    """Inputs for (workload, seed), generated once into ``cache_root``
    and reused afterwards. Keeps at most ``keep`` input sets, evicting
    the least recently used."""
    path = os.path.join(cache_root, f"{workload}-s{seed}-g{GEN_VERSION}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, tmp)
        os.rename(tmp, path)
    os.utime(path)
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, e)), e)
        for e in os.listdir(cache_root)
        if not e.endswith(".tmp")
    )
    for _mtime, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
    with open(manifest_path) as fh:
        return path, json.load(fh)
