"""Operations of the SPARQL workloads and the oracles every output is checked
against.

SPARQL template results are compared, as multisets of rows, with DuckDB SQL
over the same generated parquet (the lexical forms follow ``Triplizer``:
foreign keys become ``<table>/<key>`` IRIs, numbers their string cast,
timestamps ``yyyy-MM-dd HH:mm:ss``). Updates are checked by reading the
written triple back. RSP emissions are compared, push by push, with a batch
window computation over the same feed. Batch outputs are compared with
DuckDB recursive CTEs, a chain walk, breadth-first search and union-find on
the generated inputs; LSH pairs with their exact shingle Jaccard.
"""
import collections
import json
import math

import duckdb

import gen

# Template counts per block of 20 reads. Point lookups are bound by the
# fixed cost of a query (parse, compile, plan, job scheduling); the joins by
# shuffles; "large" (a third of all orders) by result serialization. A
# block sends each template's reads evenly spaced, in the same order for
# every seed, so any stretch of reads a run times holds close to the same
# mix; the seed picks only the constants.
MIX = (("lookup_s", 5), ("lookup_o", 3), ("star", 3), ("linear", 2),
       ("snowflake", 2), ("complex", 2), ("group", 2), ("large", 1))

TS = "strftime({}, '%Y-%m-%d %H:%M:%S')"


def _orders_row_sql(k):
    cols = [("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
            ("o_custkey", "'customer/' || CAST(o_custkey AS VARCHAR)"),
            ("o_orderstatus", "o_orderstatus"),
            ("o_totalprice", "CAST(o_totalprice AS VARCHAR)"),
            ("o_orderdate", TS.format("o_orderdate")),
            ("o_orderpriority", "o_orderpriority")]
    return " UNION ALL ".join(
        f"SELECT 'orders#{c}' AS p, {e} AS o FROM orders WHERE o_orderkey = {k}"
        for c, e in cols)


def _template(name, rng):
    k_c = rng.randint(1, gen.N_CUSTOMER)
    k_o = rng.randint(1, gen.N_ORDERS)
    n = rng.randint(0, 24)
    if name == "lookup_s":
        return (f"SELECT ?p ?o WHERE {{ <orders/{k_o}> ?p ?o }}", _orders_row_sql(k_o))
    if name == "lookup_o":
        return (f"SELECT ?o WHERE {{ ?o <orders#o_custkey> <customer/{k_c}> }}",
                f"SELECT 'orders/' || CAST(o_orderkey AS VARCHAR) FROM orders "
                f"WHERE o_custkey = {k_c}")
    if name == "star":
        return (f"SELECT ?c ?name ?seg WHERE {{ ?c <customer#c_nationkey> <nation/{n}> . "
                f"?c <customer#c_name> ?name . ?c <customer#c_mktsegment> ?seg }}",
                f"SELECT 'customer/' || CAST(c_custkey AS VARCHAR), c_name, c_mktsegment "
                f"FROM customer WHERE c_nationkey = {n}")
    if name == "linear":
        return (f"SELECT ?o ?c WHERE {{ ?o <orders#o_custkey> ?c . "
                f"?c <customer#c_nationkey> ?n . ?n <nation#n_name> \"NATION_{n}\" }}",
                f"SELECT 'orders/' || CAST(o_orderkey AS VARCHAR), "
                f"'customer/' || CAST(o_custkey AS VARCHAR) FROM orders "
                f"JOIN customer ON c_custkey = o_custkey WHERE c_nationkey = {n}")
    if name == "snowflake":
        prio, seg = rng.choice(gen.PRIORITIES), rng.choice(gen.SEGMENTS)
        return (f"SELECT ?o ?c WHERE {{ ?o <orders#o_orderpriority> \"{prio}\" . "
                f"?o <orders#o_custkey> ?c . ?c <customer#c_mktsegment> \"{seg}\" . "
                f"?c <customer#c_nationkey> <nation/{n}> }}",
                f"SELECT 'orders/' || CAST(o_orderkey AS VARCHAR), "
                f"'customer/' || CAST(o_custkey AS VARCHAR) FROM orders "
                f"JOIN customer ON c_custkey = o_custkey WHERE o_orderpriority = '{prio}' "
                f"AND c_mktsegment = '{seg}' AND c_nationkey = {n}")
    if name == "complex":
        return (f"SELECT ?o ?part WHERE {{ ?li <lineitem#l_orderkey> ?o . "
                f"?li <lineitem#l_partkey> ?part . ?o <orders#o_custkey> <customer/{k_c}> }}",
                f"SELECT 'orders/' || CAST(l_orderkey AS VARCHAR), "
                f"'part/' || CAST(l_partkey AS VARCHAR) FROM lineitem "
                f"JOIN orders ON o_orderkey = l_orderkey WHERE o_custkey = {k_c}")
    if name == "group":
        return (f"SELECT ?seg (COUNT(?c) AS ?n) WHERE {{ ?c <customer#c_mktsegment> ?seg . "
                f"?c <customer#c_nationkey> <nation/{n}> }} GROUP BY ?seg",
                f"SELECT c_mktsegment, CAST(COUNT(*) AS VARCHAR) FROM customer "
                f"WHERE c_nationkey = {n} GROUP BY 1")
    if name == "large":
        st = rng.choice(gen.STATUSES)
        return (f"SELECT ?o ?d WHERE {{ ?o <orders#o_orderstatus> \"{st}\" . "
                f"?o <orders#o_orderdate> ?d }}",
                f"SELECT 'orders/' || CAST(o_orderkey AS VARCHAR), {TS.format('o_orderdate')} "
                f"FROM orders WHERE o_orderstatus = '{st}'")
    raise ValueError(name)


def _reads(rng, names):
    out = []
    for name in names:
        text, sql = _template(name, rng)
        out.append({"kind": "read", "tpl": name, "text": text, "sql": sql})
    return out


BLOCK = [name for _, _, name in sorted(
    ((j + 0.5) / count, i, name) for i, (name, count) in enumerate(MIX) for j in range(count))]


def sparql_ops(rng, n):
    """`n` reads in blocks of the template mix, constants from `rng`."""
    ops = []
    while len(ops) < n:
        ops += _reads(rng, BLOCK)
    return ops[:n]


def one_of_each(rng):
    """One read of every template, in a fixed order."""
    return _reads(rng, (name for name, _ in MIX))


def _triple(i):
    return f"<bench/s{i}> <bench/p> <bench/o{i}>"


def insert_op(i):
    return {"kind": "update", "tpl": "insert",
            "text": f"INSERT DATA {{ GRAPH <bench/g> {{ {_triple(i)} }} }}"}


def delete_op(i):
    return {"kind": "update", "tpl": "delete",
            "text": f"DELETE DATA {{ GRAPH <bench/g> {{ {_triple(i)} }} }}"}


def ryw_op(i, present):
    return {"kind": "read", "tpl": "ryw",
            "text": f"SELECT ?o WHERE {{ GRAPH <bench/g> {{ <bench/s{i}> <bench/p> ?o }} }}",
            "expect": [(f"bench/o{i}",)] if present else []}


UNBOUND = "\0unbound"


def _rows(body):
    doc = json.loads(body)
    names = doc["head"]["vars"]
    return sorted(tuple(b[v]["value"] if v in b else UNBOUND for v in names)
                  for b in doc["results"]["bindings"])


def _duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_sparql(data_dir, results):
    """Returns (failed, first failure). A request fails when it is refused,
    errors, or answers rows that differ from the oracle."""
    con = _duck(data_dir)
    oracle = {}
    failed, first = 0, None
    for r in results:
        op = r["op"]
        why = None
        if r["status"] != 200:
            why = f"HTTP {r['status']}: {r['body'][:300]!r}"
        elif op["kind"] == "update":
            if b"Update Successful" not in r["body"]:
                why = f"update answered {r['body'][:300]!r}"
        else:
            if "expect" in op:
                want = sorted(op["expect"])
            else:
                if op["sql"] not in oracle:
                    oracle[op["sql"]] = sorted(
                        tuple(UNBOUND if v is None else str(v) for v in row)
                        for row in con.execute(op["sql"]).fetchall())
                want = oracle[op["sql"]]
            try:
                got = _rows(r["body"])
            except (ValueError, KeyError) as e:
                got, why = None, f"unparseable results: {e}"
            if got is not None and got != want:
                diff = next(((g, w) for g, w in zip(got, want) if g != w), None)
                why = f"{len(got)} rows vs oracle {len(want)}; first differing pair {diff}"
        if why:
            failed += 1
            if first is None:
                first = {"template": op["tpl"], "query": op["text"], "why": why}
    con.close()
    return failed, first


# ---------------------------------------------------------------- RSP

RANGE_MS = 2 * gen.HOUR_MS
STEP_MS = gen.HOUR_MS
_WINDOW = (f":events [RANGE {RANGE_MS} ms STEP {STEP_MS} ms] WITH POLICY steal")
_PURCHASES = 'WINDOW :w { ?e <ev/user> ?u . ?e <ev/type> "purchase" . }'

# The stream workload's sessions: StreamSuite's window BGP and per-window
# aggregate shapes. `WITH POLICY steal` keeps them on the driver engine
# plane (RspEngine).
RSP_QUERIES = (
    ("window_bgp", "REGISTER RSTREAM <http://out/windowed> AS SELECT * "
     f"FROM NAMED WINDOW :w ON {_WINDOW} WHERE {{ {_PURCHASES} }}"),
    ("window_agg", "REGISTER RSTREAM <http://out/agg> AS SELECT ?u (COUNT(?e) AS ?n) "
     f"FROM NAMED WINDOW :w ON {_WINDOW} WHERE {{ {_PURCHASES} }} GROUP BY ?u"),
)


def push_ntriples(events):
    return "\n".join(
        f"<event/{e['event_id']}> <ev/user> <user/{e['user_id']}> .\n"
        f"<event/{e['event_id']}> <ev/type> \"{e['event_type']}\" .\n"
        f"<event/{e['event_id']}> <ev/value> \"{e['value']}\" ." for e in events)


def rsp_expected(pushes, name):
    """(fires, rows) for each push: whether it fires the window, and the
    rows it makes the session emit, each a sorted tuple of (variable, value). A push at time t closes c, the largest multiple of
    STEP below t, unless c precedes the first push or has fired already;
    the window holds the events pushed at [c - RANGE, c]."""
    out, first, fired = [], None, None
    for i, p in enumerate(pushes):
        c = (p["ts"] - 1) // STEP_MS * STEP_MS
        rows = []
        fires = first is not None and c >= first and (fired is None or c > fired)
        if fires:
            fired = c
            buys = [e for q in pushes[:i] if c - RANGE_MS <= q["ts"] <= c
                    for e in q["events"] if e["event_type"] == "purchase"]
            if name == "window_bgp":
                rows = [(("e", f"event/{e['event_id']}"), ("u", f"user/{e['user_id']}"))
                        for e in buys]
            else:
                n = collections.Counter(e["user_id"] for e in buys)
                rows = [(("n", str(k)), ("u", f"user/{u}")) for u, k in n.items()]
        if first is None:
            first = p["ts"]
        out.append((fires, sorted(rows)))
    return out


def check_rsp(name, pushes, sent, buckets):
    """Returns (failed, first failure) over the pushes of one session:
    a push fails when it is refused or the rows emitted for it differ from
    the batch window computation."""
    failed, first = 0, None
    for i, (want, r) in enumerate(zip(rsp_expected(pushes, name), sent)):
        why = None
        if r["status"] != 200:
            why = f"HTTP {r['status']}: {r['body'][:300]!r}"
        elif i >= len(buckets):
            why = "no firing marker on /rsp/events"
        else:
            got = sorted(tuple(sorted(row.items())) for row in buckets[i])
            if got != want[1]:
                why = f"{len(got)} rows vs {len(want[1])} expected"
        if why:
            failed += 1
            if first is None:
                first = {"session": name, "push": i, "ts": pushes[i]["ts"], "why": why}
    return failed, first


# ---------------------------------------------------------------- batch

def _parquet_rows(path, cols):
    con = duckdb.connect()
    rows = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')").fetchall()
    con.close()
    return rows


def _components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = collections.defaultdict(list)
    for x in list(parent):
        groups[find(x)].append(x)
    return {x: (min(g), len(g)) for g in groups.values() for x in g}


# The parameters the engine passes to Dedup.minHashLshPairs: word
# 3-shingles, 32 MinHash values in 8 bands, estimated Jaccard >= 0.5.
LSH = {"k": 3, "num_hashes": 32, "bands": 8, "threshold": 0.5}
# The LSH check fails a pair only when a correct operator gets it wrong
# with at most this probability.
LSH_FALSE_ALARM = 1e-6


def _shingles(text):
    toks = text.split(" ")
    k = LSH["k"]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _p_estimate_passes(j):
    """P(the MinHash estimate of a pair with Jaccard j reaches the
    threshold): the estimate is the share of the signature's values that
    agree, Binomial(num_hashes, j)."""
    n = LSH["num_hashes"]
    m = math.ceil(LSH["threshold"] * n)
    return sum(math.comb(n, x) * j ** x * (1 - j) ** (n - x) for x in range(m, n + 1))


def _p_lsh_misses(j):
    """Upper bound on P(LSH drops a pair with Jaccard j): no band agrees
    in all its rows, or the estimate falls below the threshold."""
    rows = LSH["num_hashes"] // LSH["bands"]
    return (1 - j ** rows) ** LSH["bands"] + (1 - _p_estimate_passes(j))


BATCH_OPS = ("reasoner.closure", "reasoner.taxonomy", "prob.minmax", "pipeline.components",
             "pipeline.bfs", "pipeline.lsh_pairs", "pipeline.clusters")


def check_batch(data_dir, out, truth):
    """Returns (one entry per operator whose output is wrong, LSH quality
    against the planted near-duplicate pairs)."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    forest = f"read_parquet('{data_dir}/forest.parquet')"
    failures = []

    def expect(name, got, want):
        if got != want:
            extra = sorted(got - want)[:3] if isinstance(got, set) else None
            missing = sorted(want - got)[:3] if isinstance(want, set) else None
            failures.append({"op": name, "got": len(got), "want": len(want),
                             "extra": str(extra), "missing": str(missing)})

    anc = set(con.execute(
        f"""WITH RECURSIVE anc(x, y) AS (
              SELECT child, parent FROM {forest}
              UNION SELECT f.child, a.y FROM {forest} f JOIN anc a ON a.x = f.parent)
            SELECT 'n/' || x, 'n/' || y FROM anc""").fetchall())
    expect("reasoner.closure", set(_parquet_rows(f"{out}/reasoner.closure", ["s", "o"])), anc)

    sub = dict(con.execute(
        f"SELECT sub, sup FROM read_parquet('{data_dir}/taxonomy.parquet')").fetchall())
    c = con.execute(f"SELECT cls FROM read_parquet('{data_dir}/taxonomy_root.parquet')").fetchone()[0]
    classes = {("i", f"C{c}")}
    while c in sub:
        c = sub[c]
        classes.add(("i", f"C{c}"))
    expect("reasoner.taxonomy", set(_parquet_rows(f"{out}/reasoner.taxonomy", ["s", "o"])),
           classes)

    minmax = set(con.execute(
        f"""WITH RECURSIVE anc(x, y, pr) AS (
              SELECT child, parent, prob FROM {forest}
              UNION SELECT f.child, a.y, LEAST(f.prob, a.pr)
                    FROM {forest} f JOIN anc a ON a.x = f.parent)
            SELECT 'n/' || x, 'n/' || y, max(pr) FROM anc GROUP BY 1, 2""").fetchall())
    expect("prob.minmax", set(_parquet_rows(f"{out}/prob.minmax", ["s", "o", "probability"])),
           minmax)

    edges = con.execute(f"SELECT src, dst FROM read_parquet('{data_dir}/graph.parquet')").fetchall()
    comp = _components(edges)
    expect("pipeline.components",
           set(_parquet_rows(f"{out}/pipeline.components", ["node", "component"])),
           {(x, m) for x, (m, _) in comp.items()})

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    sources = [r[0] for r in con.execute(
        f"SELECT node FROM read_parquet('{data_dir}/sources.parquet')").fetchall()]
    dist = {s: 0 for s in sources}
    frontier = list(sources)
    for h in range(1, truth["bfs_hops"] + 1):
        nxt = []
        for v in frontier:
            for u in adj[v]:
                if u not in dist:
                    dist[u] = h
                    nxt.append(u)
        frontier = nxt
    expect("pipeline.bfs", set(_parquet_rows(f"{out}/pipeline.bfs", ["node", "dist"])),
           set(dist.items()))

    docs = dict(con.execute(
        f"SELECT doc_id, text FROM read_parquet('{data_dir}/documents.parquet')").fetchall())
    pairs = _parquet_rows(f"{out}/pipeline.lsh_pairs", ["id_a", "id_b"])
    norm = {(min(a, b), max(a, b)) for a, b in pairs}
    if len(norm) != len(pairs) or any(a == b or a not in docs or b not in docs
                                      for a, b in pairs):
        failures.append({"op": "pipeline.lsh_pairs", "why": "self, unknown or repeated pair ids"})
    else:
        sh = {}

        def jac(a, b):
            for d in (a, b):
                if d not in sh:
                    sh[d] = _shingles(docs[d])
            return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

        wrong = [p for p in sorted(norm) if _p_estimate_passes(jac(*p)) < LSH_FALSE_ALARM]
        missed = [p for p in sorted(truth["planted_pairs"] - norm)
                  if _p_lsh_misses(jac(*p)) < LSH_FALSE_ALARM]
        if wrong or missed:
            failures.append({"op": "pipeline.lsh_pairs",
                             "why": f"{len(wrong)} pairs far below the threshold "
                                    f"(e.g. {wrong[:3]}), {len(missed)} planted pairs "
                                    f"LSH finds with near certainty missing (e.g. {missed[:3]})"})
    clusters = _components(norm)
    want = {(d, *clusters.get(d, (d, 1))) for d in docs}
    expect("pipeline.clusters",
           set(_parquet_rows(f"{out}/pipeline.clusters", ["doc_id", "cluster_id", "cluster_size"])),
           want)
    con.close()

    planted = truth["planted_pairs"]
    hits = len(norm & planted)
    lsh = {"pipeline.lsh_recall": hits / len(planted) if planted else 1.0,
           "pipeline.lsh_precision": hits / len(norm) if norm else 1.0}
    return failures, lsh
