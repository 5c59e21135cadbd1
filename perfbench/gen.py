"""Seeded input generator for the benchmark.

Everything the engine reads is produced here from the workload seed, so the
same seed always gives the same files, and the program never sees anything
but these generated inputs.

Three corpora:
  * ``write_relational`` - TPC-H-shaped tables (same column names and
    physical types as the repository's test data) that ``Triplizer`` maps to
    quads for the SPARQL workloads.
  * ``write_events`` - an ``events.parquet`` feed (the test data's events
    columns) that the stream workload replays through ``/rsp/push``.
  * ``write_batch`` - inputs of the fixpoint operators: an ancestor
    forest with edge probabilities, a planted-component graph, BFS
    sources and a document corpus with planted near-duplicates.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Relational sizes: below sf0.01 (600 customers, 6 000 orders, about 190K
# quads), which keeps a store load to seconds, so set-up can be repeated in
# a run, and a read to a fraction of a second, so a run holds enough reads.
N_CUSTOMER = 600
N_SUPPLIER = 100
N_PART = 800
N_ORDERS = 6000
N_LINEITEM = 12000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]

# Stream sizes: one push per event timestamp, PUSHES_PER_HOUR pushes an
# event-hour at minutes 5, 25 and 45 (never on an hour boundary, so the first
# push of an hour closes the window that ended on it), EVENTS_PER_PUSH
# events a push. More hours than any run replays.
FEED_HOURS = 400
PUSHES_PER_HOUR = 3
EVENTS_PER_PUSH = 10
USERS = 30
EVENT_TYPES = ["view", "click", "purchase", "error"]
EVENT_WEIGHTS = [0.45, 0.25, 0.25, 0.05]
HOUR_MS = 3600000

# Batch sizes.
FOREST_NODES = 3000
FOREST_LEVELS = 8
TAXONOMY_DEPTH = 10000
GRAPH_COMPONENTS = 80
GRAPH_NODES = 4000
BFS_SOURCES = 4
BFS_HOPS = 3
BASE_DOCS = 400
DUP_DOCS = 100
VOCAB = 3000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, n, lo, hi):
    # two decimals, magnitude < 1e6: the lexical form of such a double is
    # the same in Spark (CAST AS STRING) and DuckDB (CAST AS VARCHAR)
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n):
    base = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.array((base + days).astype("datetime64[us]"), pa.timestamp("us"))


def write_relational(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    ck = np.arange(1, N_CUSTOMER + 1)
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, 1, 9999),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(1, N_SUPPLIER + 1)
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIER, 1, 9999)})
    pk = np.arange(1, N_PART + 1)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (N_PART, 2))],
        "p_type": [f"TYPE_{t}" for t in rng.integers(0, 30, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _money(rng, N_PART, 900, 2000)})
    ok = np.arange(1, N_ORDERS + 1)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, N_ORDERS), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, N_ORDERS, 1000, 500000),
        "o_orderdate": _dates(rng, N_ORDERS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    lo = rng.integers(1, N_ORDERS + 1, N_LINEITEM)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, N_PART + 1, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIER + 1, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(np.arange(N_LINEITEM) % 7 + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(float),
        "l_extendedprice": _money(rng, N_LINEITEM, 900, 99999),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _dates(rng, N_LINEITEM)})


def write_events(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    start = (1_600_000_000_000 // HOUR_MS + int(rng.integers(0, 10000))) * HOUR_MS
    push_ts = [start + h * HOUR_MS + (5 + 20 * j) * 60000
               for h in range(FEED_HOURS) for j in range(PUSHES_PER_HOUR)]
    ts = np.repeat(np.array(push_ts, dtype="int64"), EVENTS_PER_PUSH)
    n = len(ts)
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "user_id": pa.array(rng.integers(1, USERS + 1, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.choice(4, n, p=EVENT_WEIGHTS)],
        "value": np.round(rng.uniform(0, 300, n), 2),
        "ts": pa.array(ts, pa.timestamp("ms"))})


def write_batch(seed, out):
    """Returns the planted truth the checks need beyond the files."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])

    # ancestor forest in fixed levels: a node's parent is a random node of
    # the level above, so depth (the closure's round count) and closure
    # size are the same for every seed
    ids = (rng.permutation(FOREST_NODES) + 1).reshape(FOREST_LEVELS, -1)
    child, parent = [], []
    for lvl in range(1, FOREST_LEVELS):
        for c in ids[lvl]:
            child.append(int(c))
            parent.append(int(ids[lvl - 1][rng.integers(0, ids.shape[1])]))
    # probability on a 1/100 grid: minmax results stay exact doubles
    prob = rng.integers(50, 100, len(child)) / 100.0
    _write(f"{out}/forest.parquet", {
        "child": pa.array(child, pa.int64()),
        "parent": pa.array(parent, pa.int64()),
        "prob": prob})

    # taxonomy chain C0 < C1 < ... < C<depth> under seeded class labels
    labels = rng.permutation(TAXONOMY_DEPTH + 1) + 1
    _write(f"{out}/taxonomy.parquet", {
        "sub": pa.array(labels[:-1], pa.int64()),
        "sup": pa.array(labels[1:], pa.int64())})
    _write(f"{out}/taxonomy_root.parquet", {"cls": pa.array(labels[:1], pa.int64())})

    # planted components of equal size: random trees plus extra edges,
    # ids shuffled
    sizes = [GRAPH_NODES // GRAPH_COMPONENTS] * GRAPH_COMPONENTS
    gid = rng.permutation(GRAPH_NODES * 7)[:GRAPH_NODES] + 1
    src, dst, start = [], [], 0
    for size in sizes:
        nodes = gid[start:start + size]
        start += size
        for k in range(1, size):
            src.append(int(nodes[k]))
            dst.append(int(nodes[rng.integers(0, k)]))
        for _ in range(size // 5):
            a, b = rng.integers(0, size, 2)
            if a != b:
                src.append(int(nodes[a]))
                dst.append(int(nodes[b]))
    _write(f"{out}/graph.parquet", {
        "src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})
    sources = rng.choice(gid, BFS_SOURCES, replace=False)
    _write(f"{out}/sources.parquet", {"node": pa.array(sources, pa.int64())})

    # documents: random base texts plus near-duplicate copies, so the true
    # near-duplicate pairs are known. Half the copies differ in their last
    # word only (one 3-shingle: Jaccard >= 0.96, which banding finds with
    # near certainty), half in one or two words anywhere (Jaccard 0.7-0.93,
    # which banding may miss)
    words = [f"w{i}" for i in range(VOCAB)]
    texts = [" ".join(words[j] for j in rng.integers(0, VOCAB, rng.integers(60, 90)))
             for _ in range(BASE_DOCS)]
    origin = list(range(BASE_DOCS))
    for i in range(DUP_DOCS):
        b = int(rng.integers(0, BASE_DOCS))
        toks = texts[b].split()
        if i % 2 == 0:
            toks[-1] = words[int(rng.integers(0, VOCAB))]
        else:
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, VOCAB))]
        texts.append(" ".join(toks))
        origin.append(b)
    order = rng.permutation(len(texts))
    doc_ids = np.arange(1, len(texts) + 1)
    texts = [texts[i] for i in order]
    origin = [origin[i] for i in order]
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 7}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    groups = {}
    for d, o in zip(doc_ids.tolist(), origin):
        groups.setdefault(o, []).append(d)
    planted = {(a, b) for g in groups.values() for a in g for b in g if a < b}
    return {"planted_pairs": planted, "bfs_hops": BFS_HOPS}
