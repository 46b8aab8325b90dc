"""Seeded input generators for the benchmark.

Everything the program reads is made here from the benchmark's seed:

* ``corpus``: a robot-episode dataset root in the FixtureGen /
  MakeRefScaleCorpus shape (``data/chunk-000/episode_NNNNNN.parquet``,
  ``meta/episodes.jsonl``, ``meta/episodes_stats.jsonl`` and two stub
  videos per episode), plus an expectation file for the output checks.
* ``tables``: the ten gate tables (TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``) with the schemas and value domains of
  the gate test data.

The expectation file lives outside the dataset root, so the program
never reads it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WIDTH = 8
FPS = 30.0
CAMERAS = ("observation.images.front", "observation.images.wrist")
TASK = "Grab cube and place into box"

_VEC = pa.list_(pa.field("element", pa.float32(), nullable=False))
EPISODE_SCHEMA = pa.schema([
    ("action", _VEC),
    ("observation.state", _VEC),
    ("timestamp", pa.float64()),
    ("frame_index", pa.int64()),
    ("episode_index", pa.int64()),
    ("index", pa.int64()),
    ("task_index", pa.int64()),
])


def _rng(seed, *salt):
    return np.random.default_rng([int(seed), *[int(s) for s in salt]])


def episode_frames(seed, ep, n):
    """(action, state) float32 arrays of shape (n, WIDTH) for one episode.

    FixtureGen's clean-frame ramps ((ep*100 + i + d) / 7 and
    (ep*50 + 2i + d) / 11) with a seeded per-episode offset and seeded
    noise.
    """
    r = _rng(seed, 1, ep)
    i = np.arange(n, dtype=np.float64)[:, None]
    d = np.arange(WIDTH, dtype=np.float64)[None, :]
    a0, s0 = r.uniform(-50, 50, size=2)
    action = (ep * 100 + a0 + i + d) / 7.0 + r.normal(0, 0.5, (n, WIDTH))
    state = (ep * 50 + s0 + 2 * i + d) / 11.0 + r.normal(0, 0.5, (n, WIDTH))
    return action.astype(np.float32), state.astype(np.float32)


def _vec_column(a):
    n, w = a.shape
    offsets = pa.array(np.arange(0, n * w + 1, w, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(a.reshape(-1))).cast(_VEC)


def write_episode(path, ep, action, state):
    n = action.shape[0]
    fi = np.arange(n, dtype=np.int64)
    table = pa.Table.from_arrays([
        _vec_column(action), _vec_column(state),
        pa.array(fi / FPS), pa.array(fi), pa.array(np.full(n, ep, np.int64)),
        pa.array(ep * 10000 + fi), pa.array(np.zeros(n, np.int64)),
    ], schema=EPISODE_SCHEMA)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _feature_stats(a):
    x = a.astype(np.float64)
    return {"count": [int(x.shape[0])] * WIDTH, "mean": x.mean(0).tolist(),
            "std": x.std(0).tolist(), "min": x.min(0).tolist(),
            "max": x.max(0).tolist()}


def stats_line(ep, action, state):
    return json.dumps({"episode_index": ep, "stats": {
        "action": _feature_stats(action),
        "observation.state": _feature_stats(state)}})


def _episode_path(root, ep):
    return f"{root}/data/chunk-000/episode_{ep:06d}.parquet"


def _expectation(frames):
    """Expected stage outcomes: flat mean/std over all (valid) episodes."""
    acts = np.concatenate([a for a, _ in frames.values()]).astype(np.float64)
    sts = np.concatenate([s for _, s in frames.values()]).astype(np.float64)
    return {
        "episodes": len(frames),
        "total_frames": int(acts.shape[0]),
        "mean": {"action": acts.mean(0).tolist(),
                 "observation.state": sts.mean(0).tolist()},
        "std": {"action": acts.std(0).tolist(),
                "observation.state": sts.std(0).tolist()},
    }


def corpus(work, seed, episodes, frames_per_episode):
    """Write ``<work>/corpus`` and ``<work>/expect.json``."""
    root = f"{work}/corpus"
    os.makedirs(f"{root}/data/chunk-000", exist_ok=True)
    os.makedirs(f"{root}/meta", exist_ok=True)
    frames = {}
    for ep in range(episodes):
        frames[ep] = episode_frames(seed, ep, frames_per_episode)
        write_episode(_episode_path(root, ep), ep, *frames[ep])
    for cam in CAMERAS:
        d = f"{root}/videos/chunk-000/{cam}"
        os.makedirs(d, exist_ok=True)
        for ep in range(episodes):
            with open(f"{d}/episode_{ep:06d}.mp4", "w") as f:
                f.write(f"fake-video-{ep}-{cam}")
    with open(f"{root}/meta/episodes.jsonl", "w") as f:
        f.write("\n".join(json.dumps({"episode_index": ep, "tasks": [TASK],
                                      "length": frames_per_episode})
                          for ep in range(episodes)))
    with open(f"{root}/meta/episodes_stats.jsonl", "w") as f:
        f.write("".join(stats_line(ep, *frames[ep]) + "\n" for ep in range(episodes)))
    with open(f"{work}/expect.json", "w") as f:
        json.dump(_expectation(frames), f)


# --- gate tables -------------------------------------------------------------

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "hot", "large", "new", "old", "red", "small", "cold")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(r, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + r.integers(0, span, n)).astype("datetime64[us]")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """Write the ten gate tables for scale factor ``sf`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 3)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 25), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), max(int(50_000 * sf), 100)
    users = max(int(15_000 * sf), 20)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": list(REGIONS)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": r.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})
    qty = r.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(("A", "N", "R"), n_line),
        "l_linestatus": r.choice(("F", "O"), n_line),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-05", n_line)})
    gaps = r.exponential(30 * 86400e6 / n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(np.int64)
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, users, n_events),
        "event_type": r.choice(EVENT_TYPES, n_events),
        "value": np.round(r.exponential(50, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})
    # documents: random texts over a small vocabulary; every 20th document
    # is an earlier one with " dup" appended (the near-duplicate plant)
    texts, n_dup = [], n_docs // 20
    for _ in range(n_docs - n_dup):
        texts.append(" ".join(r.choice(WORDS, r.integers(10, 100))))
    for _ in range(n_dup):
        texts.append(texts[int(r.integers(0, len(texts)))] + " dup")
    order = r.permutation(n_docs)
    texts = [texts[j] for j in order]
    langs = r.choice([l for l, _ in LANGS], n_docs, p=[p for _, p in LANGS])
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = r.normal(0, 1, (n_docs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n_docs * 64 + 1, 64, dtype=np.int32))
    write("embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1))),
        "label": r.integers(0, 10, n_docs).astype(np.int32)})

