"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical files. Inputs are cached under
``perfbench/.cache/<workload>-s<seed>-<sizes digest>/`` inside the
checkout, so the second run with a seed skips generation. Generation
time is never part of a timed region; the caller reports it as
``gen_s`` in the run record.

Each generator returns a ``props`` dict of the input properties a layer
depends on (id duplication factor, planted near-dup share, graph hop
diameter, events per file); the run record carries it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

# Sizes: a run starts a fresh JVM, and its cold pass (code generation,
# JIT, one job per loop round) costs more than the data. These keep a
# run under a minute on a 4-core host, so that the ~50 runs of a
# two-commit comparison fit in an hour.
SIZES = {
    "train_feed": {
        "events": 50_000,
        "vocab": 100_000,  # embedding-table rows (ragged ids draw from it)
        "items": 100_000,
        "users": 5_000,
        "dim": 8,
        "block": 256,
        "max_ids": 19,
        "files": 8,
    },
    "corpus_curation": {
        "docs": 600,
        "dup_share": 0.2,
        "doc_tokens": 40,
        "emb_dim": 24,
        "nodes": 2_000,
        "arcs": 4,
        "ring_k": 3,
        "long_range_share": 0.4,
        "graph_seed": 0,
        "seeds": 2,
    },
    "stream": {
        "files": 2,
        "events_per_file": 1_000,
        "docs_per_file": 20,
        "users": 300,
        "doc_tokens": 30,
    },
}


def _digest(sizes: dict) -> str:
    return hashlib.md5(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]


def cached(workload: str, seed: int, sizes: dict, build) -> tuple[str, dict, bool]:
    """Return ``(dir, props, hit)``; run ``build(dir, rng, sizes) -> props``
    into a temp dir and rename it into place on a miss."""
    out = os.path.join(CACHE, f"{workload}-s{seed}-{_digest(sizes)}")
    meta = os.path.join(out, "props.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, json.load(f), True
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = build(tmp, np.random.default_rng(seed), sizes)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, props, False


def _zipf_ids(rng, n: int, vocab: int, a: float = 1.2) -> np.ndarray:
    """Zipf(a) ranks folded into [0, vocab) and scattered by a fixed
    permutation so hot ids are not the small ones."""
    ranks = np.minimum(rng.zipf(a, n) - 1, vocab - 1)
    perm = rng.permutation(vocab)
    return perm[ranks].astype(np.int64)


def _list_array(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values))


# ---------------------------------------------------------------- train_feed


def build_train_feed(out: str, rng, s: dict) -> dict:
    n, vocab, dim = s["events"], s["vocab"], s["dim"]
    lens = rng.integers(1, s["max_ids"] + 1, n)
    flat_ids = _zipf_ids(rng, int(lens.sum()), vocab)
    user = _zipf_ids(rng, n, s["users"], 1.5)
    item = _zipf_ids(rng, n, s["items"], 1.2)
    label = (rng.random(n) < 0.3).astype(np.int32)
    row_id = np.arange(n, dtype=np.int64)

    # block-dedup encoding (the structural.block_dedup_encode layout):
    # per block, user_id/item_id become (uniques, 0-based inverse index)
    # and every other column a plain per-row array
    blk = s["block"]
    starts = np.arange(0, n, blk)
    id_offsets = np.concatenate([[0], np.cumsum(lens)])
    cols = {k: [] for k in ("batch_id", "row_id", "label", "ids",
                            "user_id", "user_id_idx", "item_id", "item_id_idx")}
    for b, lo in enumerate(starts):
        hi = min(lo + blk, n)
        cols["batch_id"].append(b)
        cols["row_id"].append(row_id[lo:hi])
        cols["label"].append(label[lo:hi])
        offs = id_offsets[lo:hi + 1]
        cols["ids"].append([flat_ids[offs[i]:offs[i + 1]] for i in range(hi - lo)])
        for c, v in (("user_id", user), ("item_id", item)):
            u, inv = np.unique(v[lo:hi], return_inverse=True)
            cols[c].append(u)
            cols[c + "_idx"].append(inv.astype(np.int32))
    table = pa.table({
        "batch_id": pa.array(cols["batch_id"], pa.int64()),
        "row_id": pa.array(cols["row_id"], pa.list_(pa.int64())),
        "label": pa.array(cols["label"], pa.list_(pa.int32())),
        "ids": pa.array(cols["ids"], pa.list_(pa.list_(pa.int64()))),
        "user_id": pa.array(cols["user_id"], pa.list_(pa.int64())),
        "user_id_idx": pa.array(cols["user_id_idx"], pa.list_(pa.int32())),
        "item_id": pa.array(cols["item_id"], pa.list_(pa.int64())),
        "item_id_idx": pa.array(cols["item_id_idx"], pa.list_(pa.int32())),
    })
    # several files, as a training set is stored: one scan task each
    os.makedirs(os.path.join(out, "events"))
    per = -(-table.num_rows // s["files"])
    for i in range(s["files"]):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(out, "events", f"part-{i}.parquet"))

    # small integer-valued vectors: pooled sums and scores stay exact in
    # double on every engine
    emb = rng.integers(-8, 9, (vocab, dim)).astype(np.float32)
    pq.write_table(pa.table({
        "id": pa.array(np.arange(vocab, dtype=np.int64)),
        "vec": _list_array(emb.ravel(), np.arange(0, vocab * dim + 1, dim)),
    }), os.path.join(out, "emb.parquet"))
    pq.write_table(pa.table({
        "item_id": pa.array(np.arange(s["items"], dtype=np.int64)),
        "item_bias": pa.array(rng.integers(0, 50, s["items"]).astype(np.int64)),
        "item_cat": pa.array(rng.integers(0, 1000, s["items"]).astype(np.int64)),
    }), os.path.join(out, "items.parquet"))
    # users present for ~80% of the user ids: the rest take the default
    known = np.sort(rng.choice(s["users"], int(s["users"] * 0.8), replace=False))
    pq.write_table(pa.table({
        "user_id": pa.array(known.astype(np.int64)),
        "u_score": pa.array(rng.integers(0, 20, len(known)).astype(np.int64)),
    }), os.path.join(out, "users.parquet"))
    return {
        "events": n,
        "exploded_ids": int(lens.sum()),
        "id_dup_factor": round(float(lens.sum()) / len(np.unique(flat_ids)), 4),
        "user_dup_factor_per_block": round(
            float(n) / sum(len(u) for u in cols["user_id"]), 4),
        "item_dup_factor_per_block": round(
            float(n) / sum(len(u) for u in cols["item_id"]), 4),
        "block": blk,
    }


# ----------------------------------------------------------- corpus_curation


def _words(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


STOP = ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with"]


def _docs(rng, n: int, n_tokens: int, dup_share: float, vocab: np.ndarray):
    """``n`` docs; ``dup_share`` of them are one-token edits of an
    earlier doc (the planted near-dup clusters). Returns (texts,
    base_of) where ``base_of[i]`` is the doc a near-dup was copied from
    (itself for originals)."""
    pool = np.concatenate([vocab, np.array(STOP * 20)])
    n_dup = int(n * dup_share)
    n_orig = n - n_dup
    toks = [list(rng.choice(pool, n_tokens)) for _ in range(n_orig)]
    base_of = list(range(n_orig))
    for _ in range(n_dup):
        src = int(rng.integers(0, n_orig))
        t = list(toks[src])
        t[int(rng.integers(0, n_tokens))] = str(rng.choice(vocab))
        toks.append(t)
        base_of.append(src)
    order = rng.permutation(n)  # spread dups over the id space
    texts = [" ".join(toks[i]) for i in order]
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    base = [int(inv[base_of[i]]) for i in order]
    return texts, base


def hop_profile(n: int, src: np.ndarray, dst: np.ndarray, seeds) -> dict:
    """BFS from ``seeds`` over the undirected graph: the seed-set
    eccentricity (rounds bfs/sssp need) and a double-sweep lower bound
    on the diameter (rounds connected components needs)."""
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    start = np.searchsorted(a, np.arange(n + 1))

    def bfs(from_nodes):
        dist = np.full(n, -1, dtype=np.int64)
        dist[list(from_nodes)] = 0
        frontier = np.array(sorted(set(from_nodes)), dtype=np.int64)
        d = 0
        while len(frontier):
            d += 1
            nb = np.concatenate([b[start[u]:start[u + 1]] for u in frontier])
            nb = np.unique(nb[dist[nb] < 0])
            dist[nb] = d
            frontier = nb
        return dist

    ds = bfs(seeds)
    far = int(np.argmax(bfs([int(np.argmax(bfs([0])))])))
    sweep = bfs([far])
    return {
        "seed_eccentricity": int(ds.max()),
        "hop_diameter_lb": int(sweep.max()),
        "reached": int((ds >= 0).sum()),
    }


def relax_rounds(n: int, src, dst, w, seeds) -> int:
    """Bellman-Ford rounds from ``seeds`` until no distance changes (the
    rounds shortest_paths runs before its fixed point)."""
    a, b, ww = np.concatenate([src, dst]), np.concatenate([dst, src]), np.concatenate([w, w])
    dist = np.full(n, np.iinfo(np.int64).max // 2)
    dist[list(seeds)] = 0
    rounds = 0
    while True:
        new = dist.copy()
        np.minimum.at(new, b, dist[a] + ww)
        if (new == dist).all():
            return rounds
        dist, rounds = new, rounds + 1


def build_corpus(out: str, rng, s: dict) -> dict:
    vocab = _words(rng, 3000)
    texts, base = _docs(rng, s["docs"], s["doc_tokens"], s["dup_share"], vocab)
    n = len(texts)
    vec = rng.standard_normal((n, s["emb_dim"])).round(3)
    vec = vec[np.array(base)]  # near-dups share their source's embedding
    d = s["emb_dim"]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "embedding": _list_array(vec.ravel(), np.arange(0, n * d + 1, d)),
    }), os.path.join(out, "documents.parquet"))

    # ``arcs`` path lattices (each node linked to its ring_k successors
    # within its arc) plus a share of long-range chords inside each arc:
    # separate small worlds, so components has several answers and the
    # hop diameter is set by the chord share, not by the arc length. The
    # shape and the bfs/sssp seeds come from a fixed graph seed: random
    # chords move the diameter, and with it every loop's round count,
    # by a third between seeds. The run's seed draws the edge weights.
    topo = np.random.default_rng(s["graph_seed"])
    m, k, arcs = s["nodes"], s["ring_k"], s["arcs"]
    arc_len = m // arcs
    src = np.repeat(np.arange(m), k)
    dst = src + np.tile(np.arange(1, k + 1), m)
    keep = (dst < m) & (dst // arc_len == src // arc_len)
    src, dst = src[keep], dst[keep]
    n_long = int(len(src) * s["long_range_share"])
    ls = topo.integers(0, m, n_long)
    ld = (ls // arc_len) * arc_len + topo.integers(0, arc_len, n_long)
    keep = (ls != ld) & (ld < m)
    src = np.concatenate([src, ls[keep]]).astype(np.int64)
    dst = np.concatenate([dst, ld[keep]]).astype(np.int64)
    w = rng.integers(1, 3, len(src)).astype(np.int64)
    pq.write_table(pa.table({"src": src, "dst": dst, "w": w}),
                   os.path.join(out, "links.parquet"))
    # one seed in each of the first ``seeds`` arcs: the rest stay unreached
    seeds = [int(a * arc_len + topo.integers(0, arc_len)) for a in range(s["seeds"])]
    pq.write_table(pa.table({"id": pa.array(seeds, pa.int64())}),
                   os.path.join(out, "seeds.parquet"))
    return {
        "docs": n,
        "planted_near_dup_share": round(1 - len(set(base)) / n, 4),
        "links": int(len(src)),
        "nodes": m,
        "sssp_rounds": relax_rounds(m, src, dst, w, seeds),
        **hop_profile(m, src, dst, seeds),
    }


# -------------------------------------------------------------------- stream

EVENT_TYPES = np.array(["click", "purchase", "view"])


def stream_file(rng, k: int, s: dict, vocab: np.ndarray):
    """File ``k`` of the event and doc streams. Event time advances one
    minute per file, so every row stays inside every watermark and the
    stream result equals the batch result over the same files."""
    e = s["events_per_file"]
    base_us = 1_700_000_000_000_000 + k * 60_000_000
    ts = base_us + np.sort(rng.integers(0, 60_000_000, e))
    eid = k * e + np.arange(e, dtype=np.int64)
    # 5% re-sent events: the same event_id again within the same minute
    dup = rng.random(e) < 0.05
    eid[dup] = k * e + rng.integers(0, e, int(dup.sum()))
    events = pa.table({
        "event_id": pa.array(eid),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], e).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e, p=[0.6, 0.1, 0.3])),
        "value": pa.array(rng.integers(0, 10_000, e) / 100.0),
        "props": pa.array(np.full(e, "{}")),
    })
    nd = s["docs_per_file"]
    texts, _ = _docs(rng, nd, s["doc_tokens"], 0.2, vocab)
    docs = pa.table({
        "doc_id": pa.array(k * nd + np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
    })
    return events, docs


def build_stream(out: str, rng, s: dict) -> dict:
    vocab = _words(rng, 800)
    for k in range(s["files"]):
        ev, dc = stream_file(rng, k, s, vocab)
        pq.write_table(ev, os.path.join(out, f"events-{k:04d}.parquet"))
        pq.write_table(dc, os.path.join(out, f"docs-{k:04d}.parquet"))
    return {
        "files": s["files"],
        "events_per_file": s["events_per_file"],
        "docs_per_file": s["docs_per_file"],
        "event_dup_share": 0.05,
    }


BUILDERS = {
    "train_feed": build_train_feed,
    "corpus_curation": build_corpus,
    "stream": build_stream,
}


def generate(workload: str, seed: int, sizes: dict | None = None):
    sizes = sizes or SIZES[workload]
    return cached(workload, seed, sizes, BUILDERS[workload])
