"""Seeded input generator for the three workloads.

Every input is produced before the measured phase and written as parquet
under the run's data directory, with a `plan.json` that fixes the order
of operations. The same seed gives byte-identical files; the program sees
only these files, never the seed.

Shapes follow the sf0.1 TPC-H-like tables the repository's queries use:
150,000 orders over 15,000 customers, 5,000 documents over a small
technical vocabulary, and 2,000 64-dimensional embeddings.
"""

import json
import os
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
EPOCH_DAY = 8035  # 1992-01-01 as days since 1970-01-01

# incremental_etl: a step is one batch; every ETL_DELETE_EVERY-th step,
# from the second on, also deletes keys, reads and runs maintenance (the
# benchmark warms up on the first step)
ETL_SLICE_ROWS = 1_500  # 1% of the keys per batch
ETL_UPDATE_SHARE = 0.7
ETL_MAX_STEPS = 64
ETL_DELETE_EVERY = 4
ETL_DELETE_KEYS = 60

# view_maintenance: a step is one change, alternately a captured merge and a
# captured delete aimed half at group extremes; in the closing phase a
# stream follows one uncaptured delete
VIEW_ORDERS = 50_000
VIEW_MERGE_ROWS = 200  # as many as a delete removes, so every step folds
VIEW_UPDATE_SHARE = 0.8  # the same number of change rows
VIEW_MAX_CHANGES = 64
VIEW_DELETE_KEYS = 200
VIEW_UNCAPTURED_KEYS = 50

# corpus_curation
N_DOCS = 5_000
N_VECTORS = 2_000
VEC_DIM = 64
SUBSPACES = 4  # the benchmark's PQ splits a vector into 4 subvectors
MODES = 8  # distinct subvector shapes per subspace
GROUP = 10  # vectors per shape combination: a query's exact top 10
QUERY_BATCHES = 32
QUERIES_PER_BATCH = 8

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
VOCAB = (
    "a the data spark table query join group filter sort hash scan key value "
    "row column order customer line part batch stream window merge agg vector "
    "fast slow big small index file log commit view refresh delete insert "
    "update schema lineage storage pipeline shard chunk token budget corpus"
).split()
SYMBOLS = ["#", "$$", "%", "&&", "@", "*", "~~", "^", "|", "+="]

ORDER_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


class Orders:
    """The order table as columns indexed by key, so a generator can
    replay its own mutations and aim deletes at the current state."""

    def __init__(self, rng, n):
        self.rng = rng
        self.cust = np.zeros(0, dtype=np.int64)
        self.price = np.zeros(0)
        self.status = np.zeros(0, dtype=object)
        self.day = np.zeros(0, dtype=np.int64)
        self.prio = np.zeros(0, dtype=object)
        self.alive = np.zeros(0, dtype=bool)
        self.add(n)

    @property
    def size(self):
        return len(self.alive)

    def add(self, n):
        """Append n new orders; returns their keys (1-based)."""
        r = self.rng
        first = self.size + 1
        self.cust = np.concatenate([self.cust, r.integers(1, N_CUSTOMERS + 1, n)])
        self.price = np.concatenate([self.price, np.round(r.uniform(900.0, 500_000.0, n), 2)])
        self.status = np.concatenate([self.status, r.choice(STATUSES, n).astype(object)])
        self.day = np.concatenate([self.day, EPOCH_DAY + r.integers(0, 2400, n)])
        self.prio = np.concatenate([self.prio, r.choice(PRIORITIES, n).astype(object)])
        self.alive = np.concatenate([self.alive, np.ones(n, dtype=bool)])
        return np.arange(first, first + n, dtype=np.int64)

    def update(self, keys):
        """New price, status and date for existing keys (customer kept)."""
        r, i = self.rng, keys - 1
        self.price[i] = np.round(r.uniform(900.0, 500_000.0, len(keys)), 2)
        self.status[i] = r.choice(STATUSES, len(keys))
        self.day[i] = EPOCH_DAY + r.integers(0, 2400, len(keys))

    def table(self, keys):
        i = np.asarray(keys, dtype=np.int64) - 1
        return pa.table({
            "o_orderkey": pa.array(i + 1, pa.int64()),
            "o_custkey": pa.array(self.cust[i], pa.int64()),
            "o_orderstatus": pa.array(list(self.status[i]), pa.string()),
            "o_totalprice": pa.array(self.price[i], pa.float64()),
            "o_orderdate": pa.array(self.day[i].astype(np.int32), pa.date32()),
            "o_orderpriority": pa.array(list(self.prio[i]), pa.string()),
        }, schema=ORDER_SCHEMA)


def gen_incremental_etl(seed, out):
    rng = np.random.default_rng([seed, 1])
    o = Orders(rng, N_ORDERS)
    base = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    _write(o.table(base), f"{out}/base_orders.parquet")
    # keys reserved for deletes are never touched by a batch, so the
    # expected table does not depend on where a run stops
    reserved = base[base % 50 == 7]
    rng.shuffle(reserved)
    updatable = base[base % 50 != 7]
    n_upd = int(ETL_SLICE_ROWS * ETL_UPDATE_SHARE)
    steps = []
    for i in range(ETL_MAX_STEPS):
        upd = rng.choice(updatable, n_upd, replace=False)
        o.update(upd)
        new = o.add(ETL_SLICE_ROWS - n_upd)
        updatable = np.concatenate([updatable, new])
        keys = rng.permutation(np.concatenate([upd, new]))
        name = f"slices/s{i:03d}.parquet"
        _write(o.table(keys), f"{out}/{name}")
        step = {"file": name, "rows": int(len(keys))}
        if i % ETL_DELETE_EVERY == 1:
            d = i // ETL_DELETE_EVERY
            step["delete_keys"] = [int(k) for k in np.sort(
                reserved[d * ETL_DELETE_KEYS:(d + 1) * ETL_DELETE_KEYS])]
        steps.append(step)
    return {"workload": "incremental_etl", "steps": steps}


def _view_delete(o, rng, n_keys):
    """Half the keys are a customer's current min or max price, so the
    min/max view has to rescan those groups; half are random."""
    live = np.flatnonzero(o.alive) + 1
    custs = rng.choice(np.unique(o.cust[live - 1]), n_keys // 2, replace=False)
    picked = set()
    for j, c in enumerate(custs):
        keys = live[o.cust[live - 1] == c]
        prices = o.price[keys - 1]
        picked.add(int(keys[np.argmax(prices)] if j % 2 == 0 else keys[np.argmin(prices)]))
    rest = rng.choice(live, n_keys, replace=False)
    for k in rest:
        if len(picked) >= n_keys:
            break
        picked.add(int(k))
    keys = np.array(sorted(picked), dtype=np.int64)
    o.alive[keys - 1] = False
    return keys


def _view_merge(o, rng, out, name):
    live = np.flatnonzero(o.alive) + 1
    n_upd = int(VIEW_MERGE_ROWS * VIEW_UPDATE_SHARE)
    upd = rng.choice(live, n_upd, replace=False)
    o.update(upd)
    new = o.add(VIEW_MERGE_ROWS - n_upd)
    keys = rng.permutation(np.concatenate([upd, new]))
    _write(o.table(keys), f"{out}/{name}")
    return {"kind": "merge", "file": name, "rows": int(len(keys))}


def gen_view_maintenance(seed, out):
    rng = np.random.default_rng([seed, 2])
    o = Orders(rng, VIEW_ORDERS)
    _write(o.table(np.arange(1, VIEW_ORDERS + 1)), f"{out}/base_orders.parquet")
    changes = []
    for c in range(VIEW_MAX_CHANGES):
        if c % 2 == 0:
            changes.append(_view_merge(o, rng, out, f"changes/c{c:03d}.parquet"))
        else:
            keys = _view_delete(o, rng, VIEW_DELETE_KEYS)
            changes.append({"kind": "delete", "keys": [int(k) for k in keys],
                            "rows": int(len(keys))})
    live = np.flatnonzero(o.alive) + 1
    keys = np.sort(rng.choice(live, VIEW_UNCAPTURED_KEYS, replace=False))
    o.alive[keys - 1] = False
    stream = [{"kind": "delete_uncaptured", "keys": [int(k) for k in keys],
               "rows": int(len(keys))}]
    return {"workload": "view_maintenance", "changes": changes, "stream": stream}


def _words(rng, n):
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _documents(rng):
    """Texts with the defects the curation stages exist for: low-quality
    symbol runs, exact duplicates up to case and whitespace, one-word
    near-duplicates, boilerplate-dominated documents, documents that
    quote an evaluation document (doc_id % 10 == 0), and composed and
    decomposed spellings of the same accented word."""
    boiler = [_words(rng, 40) for _ in range(3)]
    texts = []
    long_docs = []  # ids of documents with at least 40 words
    for i in range(N_DOCS):
        u = rng.random()
        if u < 0.04:
            toks = _words(rng, int(rng.integers(8, 40)))
            for p in rng.choice(len(toks), len(toks) // 2, replace=False):
                toks[p] = SYMBOLS[int(rng.integers(0, len(SYMBOLS)))] * 2
            text = " ".join(toks)
        elif u < 0.08 and i > 0:
            src = texts[int(rng.integers(0, i))].split()
            text = "  ".join(w.upper() if rng.random() < 0.3 else w for w in src) + " "
        elif u < 0.12 and long_docs:
            src = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split()
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(src)
        elif u < 0.16:
            text = " ".join(boiler[int(rng.integers(0, 3))] + _words(rng, 5))
        elif u < 0.20 and i > 10:
            ev = texts[int(rng.integers(0, i // 10)) * 10].split()
            toks = _words(rng, int(rng.integers(10, 40)))
            if len(ev) >= 10:
                at = int(rng.integers(0, len(ev) - 9))
                toks[len(toks) // 2:len(toks) // 2] = ev[at:at + 10]
            text = " ".join(toks)
        else:
            toks = _words(rng, int(rng.integers(12, 90)))
            if rng.random() < 0.03:
                form = "NFC" if rng.random() < 0.5 else "NFD"
                toks[int(rng.integers(0, len(toks)))] = unicodedata.normalize(form, "café")
            text = " ".join(toks)
        if len(text.split()) >= 40:
            long_docs.append(i)
        texts.append(text)
    return texts


def gen_corpus_curation(seed, out):
    rng = np.random.default_rng([seed, 3])
    texts = _documents(rng)
    order = rng.permutation(N_DOCS)
    _write(pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    }), f"{out}/documents.parquet")
    # Each subvector is one of MODES shapes plus small noise, and each
    # combination of shapes is shared by exactly GROUP vectors. A query
    # is a combination's centre plus noise, so its exact top 10 are that
    # combination's vectors, well apart from the rest: an index that
    # quantizes every subspace well finds them, one that ranks worse
    # loses recall.
    sub = VEC_DIM // SUBSPACES
    modes = rng.normal(0.0, 1.0, (SUBSPACES, MODES, sub))
    n_groups = N_VECTORS // GROUP
    combos = set()
    while len(combos) < n_groups:
        combos.add(tuple(int(x) for x in rng.integers(0, MODES, SUBSPACES)))
    combos = sorted(combos)
    rng.shuffle(combos)
    centres = np.array([np.concatenate([modes[s, c[s]] for s in range(SUBSPACES)])
                        for c in combos])
    label = rng.permutation(np.repeat(np.arange(n_groups), GROUP))
    vecs = (centres[label] + 0.05 * rng.normal(0.0, 1.0, (N_VECTORS, VEC_DIM))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet")
    nq = QUERY_BATCHES * QUERIES_PER_BATCH
    src = rng.choice(n_groups, nq, replace=True)
    qv = (centres[src] + 0.02 * rng.normal(0.0, 1.0, (nq, VEC_DIM))).astype(np.float32)
    _write(pa.table({
        "batch": pa.array(np.arange(nq) // QUERIES_PER_BATCH, pa.int32()),
        "vec_id": pa.array(1_000_000 + np.arange(nq), pa.int64()),
        "embedding": pa.array(list(qv), pa.list_(pa.float32())),
    }), f"{out}/queries.parquet")
    return {"workload": "corpus_curation", "query_batches": QUERY_BATCHES}


GENERATORS = {
    "incremental_etl": gen_incremental_etl,
    "view_maintenance": gen_view_maintenance,
    "corpus_curation": gen_corpus_curation,
}


def generate(workload, seed, out):
    """Write the workload's inputs and plan under `out`; returns the plan."""
    plan = GENERATORS[workload](seed, out)
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan
