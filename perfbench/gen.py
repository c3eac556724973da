"""Seeded input generator for the graft benchmark.

Writes the ten fixture tables the query registry reads (schemas as in
FIXTURES.md, row counts of scale factor SF) and, for `mor-churn`, the
operation stream and its upsert/merge batches. The fixture tables are the
same for every seed, as a fixed-scale dbgen's are; the seed picks the
`mor-churn` stream and its batches here, and the query order in the client.
The same seed gives the same files byte for byte; the engine only ever sees
these files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01  # lineitem ~60k rows
SCALE = {k: int(v * SF) for k, v in {  # rows per table at sf1
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "events": 1_000_000, "documents": 50_000,
    "embeddings": 20_000}.items()}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_MS = 86_400_000
EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in us

FIXTURE_SEED = 1  # the fixture tables do not vary with the run's seed

# mor-churn stream shape: blocks of one write followed by reads, writes
# cycling so a compaction runs every fourth write, ~BATCH_ROWS rows per
# upsert/merge batch. The first cycle is the warm-up and reads each kind
# once over its four blocks; every later block reads every kind.
MOR_BLOCKS = 120
WRITE_CYCLE = ["delete", "upsert", "merge", "compact"]
BATCH_ROWS = 1000
READ_KINDS = ["resolved", "band", "changes", "snapshot"]


def _ts(values_ms):
    return pa.array(np.asarray(values_ms, dtype=np.int64) * 1000, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_for(rng, orderkeys, order_dates_ms, retail):
    """Lines for the given orders: 1..7 lines each, (l_orderkey,
    l_linenumber) unique, ship date 1..121 days after the order date."""
    nlines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, nlines)
    start = np.repeat(np.cumsum(nlines) - nlines, nlines)
    ln = (np.arange(len(ok)) - start + 1).astype(np.int32)
    n = len(ok)
    partkey = rng.integers(0, len(retail), n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(order_dates_ms, nlines) + rng.integers(1, 122, n) * DAY_MS
    status = np.where(ship > EPOCH_1995 + 1800 * DAY_MS, "O", "F")
    return {
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SCALE["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(status),
        "l_shipdate": _ts(ship),
    }


def fixtures(out, seed):
    """The ten registry tables under `out`; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = SCALE["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = SCALE["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = SCALE["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail})
    no = SCALE["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_MS
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    li = lineitem_for(rng, np.arange(no), odate, retail)
    _write(out, "lineitem", li)
    ne = SCALE["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = SCALE["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = SCALE["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0, 0.8, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"lineitem": len(li["l_orderkey"]), "orders": no, "customer": nc,
            "part": npart, "events": ne, "documents": nd, "embeddings": nv}


def mor_stream(out, seed, n_orders):
    """The `mor-churn` operation stream (ops.jsonl) and its batches.

    The stream is MOR_BLOCKS blocks of one write followed by reads in seeded
    order; after the first four blocks, every four do the same mix of work.
    Writes cycle through WRITE_CYCLE: `delete` of an l_orderkey range,
    `upsert` (replace matched keys, insert new ones) and update-only `merge`
    of ~BATCH_ROWS-row batches, and a `compact`. Reads: the resolved aggregate, a
    (l_partkey, l_suppkey) band read, the change feed since the last compaction
    and a snapshot read pinned at the write before the block's. `w`, `since`
    and `at` are write indexes in the stream (-1: before the first write);
    the client maps them to the sequences the writes committed.
    """
    rng = np.random.default_rng([seed, 7])
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir, exist_ok=True)
    nparts = SCALE["part"]
    retail = np.round(900.0 + (np.arange(nparts) % 1000) / 10.0, 1)
    ops, last_compact, next_new = [], -1, n_orders
    for w in range(MOR_BLOCKS):
        kind = WRITE_CYCLE[w % len(WRITE_CYCLE)]
        block = [{"op": kind, "w": w}]
        if kind == "delete":
            lo = int(rng.integers(0, n_orders - 40))
            block[0].update(lo=lo, hi=lo + int(rng.integers(20, 40)))
        elif kind in ("upsert", "merge"):
            # ~60% of the rows replace lines of existing orders, the rest
            # are new orders (which an update-only merge ignores)
            old = rng.choice(n_orders, BATCH_ROWS * 3 // 20, replace=False)
            new = np.arange(next_new, next_new + BATCH_ROWS // 10)
            next_new += len(new)
            keys = np.concatenate([old, new])
            dates = EPOCH_1995 + rng.integers(0, 2404, len(keys)) * DAY_MS
            name = f"b{w:05d}.parquet"
            pq.write_table(pa.table(lineitem_for(rng, keys, dates, retail)),
                           os.path.join(bdir, name), compression="snappy")
            block[0]["batch"] = name
        if kind == "compact":
            last_compact = w
        reads = [READ_KINDS[w]] if w < len(WRITE_CYCLE) else READ_KINDS
        for read in rng.permutation(reads):
            op = {"op": str(read)}
            if read == "band":
                lo = int(rng.integers(0, nparts - nparts // 40))
                op.update(plo=lo, phi=lo + nparts // 40, smin=int(rng.integers(0, 50)))
            elif read == "changes":
                # the feed since the last compaction (it refuses ranges that
                # span one)
                op["since"] = last_compact
            elif read == "snapshot":
                op["at"] = w - 1
            block.append(op)
        ops += block
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op) + "\n")
    return len(ops)


def generate(out, seed):
    """Generates (once per seed) the inputs of both workloads under `out`."""
    stamp = os.path.join(out, "_inputs.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f)
    tables = os.path.join(out, "tables")
    rows = fixtures(tables, FIXTURE_SEED)
    info = {"seed": seed, "rows": rows,
            "mor_ops": mor_stream(out, seed, rows["orders"])}
    with open(stamp, "w") as f:
        json.dump(info, f)
    return info
