"""Seeded inputs, operation pools and expected answers for the benchmark.

Everything here is computed apart from the program: closures by BFS over
the benchmark's own edge sets, aggregates from per-group maps, the join
by DuckDB over the same rows, nearest neighbours by brute-force cosine.
The program only ever sees the parquet snapshot and the IQL text.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. The closure and the small aggregate sit below the Engine's
# driver-local gates (tcLocalClosureCap = 1,000,000 closure pairs; a
# 65,536-row aggregate support table); `big` sits above the support gate.
GRAPH_NODES, GRAPH_EDGES = 500, 1000
EMP_ROWS, EMP_GROUPS = 10_000, 100
BIG_GROUPS, BIG_PER_GROUP = 100_000, 2
CUSTOMERS, PRODUCTS, ORDERS = 10_000, 1_000, 100_000
VECTORS, DIM, K = 2_000, 128, 10
VARIANTS = 8  # distinct seeded operations per family; rounds cycle them
# operations per round of a family on a workload (default 1): a kg_serve
# probe costs a few ms, so a round runs several distinct ones
REPS = {"kg_serve": {"ann": 8}, "kg_maintain": {}}

# Operation families, in the order a round runs them. Round r runs entry
# r mod len(pool) of each family's pool. An operation is one bound read,
# except on kg_maintain for the families that own a maintained structure:
#   tc, agg, agg_large   one update (a retraction and an insertion in one
#             message) and a read; pool entries come in pairs, the second
#             undoing the first, so the state returns to the base every
#             second round;
#   ann       an insertion and a read, then its retraction and a read.
FAMILIES = ["tc", "agg", "agg_large", "bound", "join", "ann"]

PERSISTENT_RULES = [
    "+reach(X, Y) <- edge(X, Y)",
    "+reach(X, Z) <- reach(X, Y), edge(Y, Z)",
    "+gstats(G, sum<V>, count<V>, min<V>) <- emp(I, G, V)",
    "+bstats(G, sum<V>, count<V>, min<V>) <- big(I, G, V)",
]
SESSION_RULES = [
    "path(X, Y) <- link(X, Y)",
    "path(X, Z) <- link(X, Y), path(Y, Z)",
    "spend(C, sum<T>, count<O>) <- orders(O, C, P, Q), products(P, Pr), "
    "customers(C, R), Q >= 2, T = Q * Pr",
]


def _graph(rng, dag=False):
    """Random digraph; with `dag`, every edge points to a larger id."""
    edges = set()
    while len(edges) < GRAPH_EDGES:
        a, b = (int(x) for x in rng.randint(0, GRAPH_NODES, size=2))
        if dag:
            a, b = min(a, b), max(a, b)
        if a != b:
            edges.add((a, b))
    return sorted(edges)


def _adj(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    return adj


def reach_from(edges, s, adj=None):
    adj = adj if adj is not None else _adj(edges)
    seen, stack = set(), list(adj.get(s, []))
    while stack:
        y = stack.pop()
        if y not in seen:
            seen.add(y)
            stack.extend(adj.get(y, []))
    return sorted((s, y) for y in seen)


def _group_row(rows, g):
    vs = [v for (_, gg, v) in rows if gg == g]
    return [(g, sum(vs), len(vs), min(vs))] if vs else []


def _vec_lit(v):
    return "[" + ", ".join(f"{x:.6f}" for x in v) + "]"


def _as_f32(v):
    return np.array([float(f"{x:.6f}") for x in v], dtype=np.float32)


def exact_topk(vecs, ids, q, k=K):
    qn = q / np.linalg.norm(q)
    sims = (vecs @ qn) / np.linalg.norm(vecs, axis=1)
    order = np.lexsort((ids, -sims))[:k]
    return [int(ids[i]) for i in order]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def generate(seed, work, workload):
    """Write the snapshot under `work` and return the benchmark plan.

    plan = {"setup": [...], "session": [...], "families": [...],
            "pools": {family: [op, ...]}} where op = {"reqs": [text...],
            "expect": [expected-or-None per request]}.
    """
    rng = np.random.RandomState(seed)
    snap = os.path.join(work, "snap")
    os.makedirs(snap, exist_ok=True)

    edge = _graph(rng)
    link = _graph(rng, dag=True)
    emp = [(i, int(rng.randint(EMP_GROUPS)), int(rng.randint(1, 1001)))
           for i in range(EMP_ROWS)]
    big_v = rng.randint(1, 1001, size=BIG_GROUPS * BIG_PER_GROUP)
    big = [(i, i // BIG_PER_GROUP, int(big_v[i])) for i in range(len(big_v))]
    cust_region = rng.randint(0, 10, size=CUSTOMERS)
    prod_price = rng.randint(1, 501, size=PRODUCTS)
    o_cid = rng.randint(0, CUSTOMERS, size=ORDERS)
    o_pid = rng.randint(0, PRODUCTS, size=ORDERS)
    o_qty = rng.randint(1, 11, size=ORDERS)
    vecs = rng.normal(size=(VECTORS, DIM)).astype(np.float32)
    vec_ids = np.arange(VECTORS, dtype=np.int64)

    i64 = lambda xs: pa.array(xs, type=pa.int64())
    _write(f"{snap}/edge.parquet", {"src": i64([a for a, _ in edge]), "dst": i64([b for _, b in edge])})
    _write(f"{snap}/link.parquet", {"src": i64([a for a, _ in link]), "dst": i64([b for _, b in link])})
    for name, rows in (("emp", emp), ("big", big)):
        _write(f"{snap}/{name}.parquet", {"id": i64([r[0] for r in rows]),
                                          "g": i64([r[1] for r in rows]),
                                          "v": i64([r[2] for r in rows])})
    _write(f"{snap}/customers.parquet", {"cid": i64(range(CUSTOMERS)), "region": i64(cust_region)})
    _write(f"{snap}/products.parquet", {"pid": i64(range(PRODUCTS)), "price": i64(prod_price)})
    _write(f"{snap}/orders.parquet", {"oid": i64(range(ORDERS)), "cid": i64(o_cid),
                                      "pid": i64(o_pid), "qty": i64(o_qty)})
    _write(f"{snap}/vecs.parquet", {"id": i64(vec_ids),
                                    "v": pa.array(list(vecs), type=pa.list_(pa.float32()))})
    names = ["edge", "link", "emp", "big", "customers", "products", "orders", "vecs"]
    with open(f"{snap}/relations.txt", "w") as f:
        f.write("\n".join(names))
    with open(f"{snap}/rules.iql", "w") as f:
        f.write("")

    maintain = workload == "kg_maintain"
    pools = {f: [] for f in FAMILIES}

    def view_read(view, s):
        # the source is bound by a filter, not in the goal: a goal constant
        # on a recursive relation takes the demand-restricted path, which
        # derives the answer from the edges and never reads the view
        return f"?{view}(X, Y), X = {s}"

    def closure_ops(edges, rel, view):
        # sources reach (nearly) the whole giant component, so every
        # variant costs about the same
        adj = _adj(edges)
        sizes = {s: len(reach_from(edges, s, adj)) for s in range(GRAPH_NODES)}
        top = max(sizes.values())
        sources = [s for s in range(GRAPH_NODES) if sizes[s] >= 0.9 * top]
        out, used = [], set()
        for _ in range(VARIANTS):
            if not maintain:
                s1 = sources[rng.randint(len(sources))]
                out.append({"reqs": [view_read(view, s1)], "expect": [reach_from(edges, s1)]})
                continue
            # an update that moves one edge: retract (a, b), whose loss
            # shrinks a's reach set where such an edge exists, and insert
            # (a, c) for a node c that a did not reach; the next visit moves
            # it back, so both directions retract an edge and insert one
            pick = None
            for _ in range(400):
                e = edges[rng.randint(len(edges))]
                if e in used or sizes[e[0]] < 0.9 * top:
                    continue
                pick = pick or e
                if e not in reach_from([x for x in edges if x != e], e[0]):
                    pick = e
                    break
            used.add(pick)
            a, b = pick
            reached = set(reach_from(edges, a))
            outside = [c for c in range(GRAPH_NODES) if c != a and (a, c) not in reached]
            c = outside[rng.randint(len(outside))]
            moved = [x for x in edges if x != pick] + [(a, c)]
            read = view_read(view, a)
            out.append({"reqs": [f"-{rel}[({a}, {b})]\n+{rel}[({a}, {c})]", read],
                        "expect": [None, reach_from(moved, a)]})
            out.append({"reqs": [f"-{rel}[({a}, {c})]\n+{rel}[({a}, {b})]", read],
                        "expect": [None, reach_from(edges, a)]})
        return out

    pools["tc"] = closure_ops(edge, "edge", "reach")

    # bound recursive query over a session rule on a DAG (no view, so the
    # same reads on both workloads): sources with 20-40 reachable nodes,
    # where demand restriction pays
    link_sizes = {s: len(reach_from(link, s)) for s in range(GRAPH_NODES)}
    link_src = [s for s in range(GRAPH_NODES) if 20 <= link_sizes[s] <= 40]
    for _ in range(VARIANTS):
        s1 = link_src[rng.randint(len(link_src))]
        pools["bound"].append({"reqs": [f"?path({s1}, Y)"], "expect": [reach_from(link, s1)]})

    # aggregates: retract each group's minimum row so min<V> needs support
    def agg_ops(rows, rel, view, groups):
        by_group = {}
        for r in rows:
            by_group.setdefault(r[1], []).append(r)
        out = []
        for v in range(VARIANTS):
            g1 = int(rng.randint(groups))
            if maintain:
                # an update: retract the group's minimum row and insert a
                # new minimum; the next visit undoes it the same way, so
                # both directions retract a min and insert a min
                grp = by_group[g1]
                old = min(grp, key=lambda t: (t[2], t[0]))
                new = (len(rows) + v, g1, old[2] - 1)
                changed = [t for t in grp if t != old] + [new]
                lo, ln = (f"({t[0]}, {t[1]}, {t[2]})" for t in (old, new))
                read = f"?{view}({g1}, S, C, M)"
                out.append({"reqs": [f"-{rel}[{lo}]\n+{rel}[{ln}]", read],
                            "expect": [None, _group_row(changed, g1)]})
                out.append({"reqs": [f"-{rel}[{ln}]\n+{rel}[{lo}]", read],
                            "expect": [None, _group_row(grp, g1)]})
            else:
                out.append({"reqs": [f"?{view}({g1}, S, C, M)"],
                            "expect": [_group_row(by_group.get(g1, []), g1)]})
        return out

    pools["agg"] = agg_ops(emp, "emp", "gstats", EMP_GROUPS)
    pools["agg_large"] = agg_ops(big, "big", "bstats", BIG_GROUPS)

    # 3-way join + filter + arithmetic + aggregate over a session rule (no
    # view: the same reads on both workloads), answered by DuckDB
    con = duckdb.connect()
    con.register("orders_t", pa.table({"oid": np.arange(ORDERS), "cid": o_cid,
                                       "pid": o_pid, "qty": o_qty}))
    con.register("products_t", pa.table({"pid": np.arange(PRODUCTS), "price": prod_price}))
    con.register("customers_t", pa.table({"cid": np.arange(CUSTOMERS), "region": cust_region}))
    spend_sql = ("SELECT o.cid, sum(o.qty * p.price), count(o.oid) FROM orders_t o "
                 "JOIN products_t p ON o.pid = p.pid JOIN customers_t c ON o.cid = c.cid "
                 "WHERE o.qty >= 2 AND o.cid = ? GROUP BY o.cid")

    def spend(c):
        return [tuple(int(x) for x in r) for r in con.execute(spend_sql, [c]).fetchall()]

    for v in range(VARIANTS):
        c1 = int(rng.randint(CUSTOMERS))
        pools["join"].append({"reqs": [f"?spend({c1}, S, N)"], "expect": [spend(c1)]})
    con.close()

    # nearest neighbours: probes drawn like the stored vectors; on
    # kg_maintain a vector next to the probe is inserted, then retracted
    def probe():
        return _as_f32(rng.normal(size=DIM))

    def ann_req(q):
        return f'?hnsw_nearest("vidx", {_vec_lit(q)}, {K}, Id, D)'

    for v in range(VARIANTS * REPS[workload].get("ann", 1)):
        q1 = probe()
        if maintain:
            nid = VECTORS + v
            nv = _as_f32(q1 + 0.01 * rng.normal(size=DIM))
            lit = f"({nid}, {_vec_lit(nv)})"
            pools["ann"].append({
                "reqs": [f"+vecs[{lit}]", ann_req(q1), f"-vecs[{lit}]", ann_req(q1)],
                "expect": [None, {"ann": q1, "extra": (nid, nv)}, None, {"ann": q1}]})
        else:
            pools["ann"].append({"reqs": [ann_req(q1)], "expect": [{"ann": q1}]})

    setup = ([f".open {os.path.abspath(snap)}"] + PERSISTENT_RULES
             + [".index create vidx on vecs(v) id"])
    return {"setup": setup, "session": SESSION_RULES, "families": FAMILIES,
            "reps": REPS[workload], "pools": pools, "vecs": vecs, "vec_ids": vec_ids}
