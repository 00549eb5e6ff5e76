"""Seeded input generator for the pipeline benchmark.

Every workload's input is a pure function of (workload, seed): the same
seed writes byte-identical parquet files and the same ground truth. The
tables mirror the shape of the TPC-H-style star schema and the
`documents` table the library is tested on (same column names and types),
drawn from a numpy PCG64 stream instead of read from a fixture, so the
benchmark reads nothing outside its own checkout.

Besides the inputs, each workload directory gets a `truth.json` holding
what the generator planted and therefore knows independently of the
program: per-spec row counts and tuple digests (graph_load), near-dup
clusters and contaminated ids (curate), component structure of the
disjoint replicas (graph_algos) and planted near-dup pairs
(stream_dedup). The output checks compare against these.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("graph_load", "curate", "graph_algos", "stream_dedup")

# node-id offsets keep the four node tables' keys disjoint (GDS wants one
# id space); edge endpoints are written in the same shifted space
CUST_OFF, SUPP_OFF, PART_OFF, ORDER_OFF = 0, 100_000_000, 200_000_000, 300_000_000

VOCAB = ("the a of and is batch part spark line column order small sort fast "
         "value scan hash slow group agg filter query big key window row "
         "table stream merge data vector join customer").split()

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def rng_for(workload, seed):
    return np.random.default_rng([WORKLOADS.index(workload), int(seed)])


# --- order-independent tuple digest, mirrored by perfbench.Digest ---------

def splitmix64(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & M64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & M64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & M64
    return x ^ (x >> np.uint64(31))


def fnv1a64(s):
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def digest(a, b, c_strings):
    """sum over rows of splitmix64(a ^ splitmix64(b ^ splitmix64(fnv(c))))
    mod 2^64 — the same per-tuple hash the benchmark computes over the
    payloads the transport received. Returned as a signed 64-bit int."""
    with np.errstate(over="ignore"):
        uniq, inv = np.unique(np.asarray(c_strings, dtype=object), return_inverse=True)
        ch = np.array([fnv1a64(u) for u in uniq], dtype=np.uint64)[inv]
        h = splitmix64(np.asarray(a).astype(np.uint64)
                       ^ splitmix64(np.asarray(b).astype(np.uint64) ^ splitmix64(ch)))
        total = int(h.sum(dtype=np.uint64))
    return total - (1 << 64) if total >= (1 << 63) else total


# --- helpers ---------------------------------------------------------------

def write_parts(table, directory, n_files):
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(directory, f"part-{i:05d}.parquet"))


def texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


# --- graph_load -------------------------------------------------------------

def gen_graph_load(rng, out):
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    cust = np.arange(1, n_cust + 1, dtype=np.int64) + CUST_OFF
    supp = np.arange(1, n_supp + 1, dtype=np.int64) + SUPP_OFF
    part = np.arange(1, n_part + 1, dtype=np.int64) + PART_OFF
    order = np.arange(1, n_ord + 1, dtype=np.int64) + ORDER_OFF
    segs = pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)
    brands = pick(rng, [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_part)
    status = pick(rng, ["F", "O", "P"], n_ord)
    prio = pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)
    o_cust = cust[rng.integers(0, n_cust, n_ord)]
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(order, lines)
    n_line = len(l_order)
    l_part = part[rng.integers(0, n_part, n_line)]
    flag = pick(rng, ["A", "N", "R"], n_line)

    tables = {
        "customer": (pa.table({
            "c_custkey": cust, "c_name": [f"Customer#{k:09d}" for k in cust],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": segs}), 8),
        "supplier": (pa.table({
            "s_suppkey": supp, "s_name": [f"Supplier#{k:09d}" for k in supp],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}), 2),
        "part": (pa.table({
            "p_partkey": part, "p_brand": brands,
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}), 8),
        "orders": (pa.table({
            "o_orderkey": order, "o_custkey": o_cust, "o_orderstatus": status,
            "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
            "o_orderpriority": prio}), 32),
        "lineitem": (pa.table({
            "l_orderkey": l_order, "l_partkey": l_part,
            "l_suppkey": supp[rng.integers(0, n_supp, n_line)],
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_line), 2),
            "l_returnflag": flag}), 64),
        # routed by no spec: exercises the skip path of file routing
        "nation": (pa.table({"n_nationkey": np.arange(25, dtype=np.int32)}), 1),
    }
    for name, (t, files) in tables.items():
        write_parts(t, os.path.join(out, name), files)

    none = [""] * n_supp
    return {
        "nodes": {
            "rows": n_cust + n_supp + n_part + n_ord,
            "per_spec": {"customer": n_cust, "supplier": n_supp,
                         "part": n_part, "orders": n_ord},
            "digest": wrap_add(digest(cust, 0, segs), digest(supp, 0, none),
                               digest(part, 0, brands), digest(order, 0, status)),
        },
        "edges": {
            "rows": n_ord + n_line,
            "per_spec": {"orders": n_ord, "lineitem": n_line},
            "digest": wrap_add(digest(o_cust, order, prio),
                               digest(l_order, l_part, flag)),
        },
    }


def wrap_add(*xs):
    t = sum(xs) & 0xFFFFFFFFFFFFFFFF
    return t - (1 << 64) if t >= (1 << 63) else t


# --- curate -----------------------------------------------------------------

def gen_curate(rng, out):
    n_docs, n_clusters, n_contam, n_bench = 5_000, 120, 50, 200
    body = texts(rng, n_docs, 8, 110)
    # planted near-dup clusters: a seed text of 60-100 tokens plus members
    # that each append a distinct two-token suffix — pairwise 5-shingle
    # Jaccard >= ~0.9, far above the 0.2 verify threshold and the knee of
    # the 4-band x 4-row LSH collision curve
    slots = rng.permutation(n_docs)
    cursor = 0
    clusters = []
    for _ in range(n_clusters):
        size = int(rng.integers(2, 6))
        ids = slots[cursor:cursor + size]
        cursor += size
        seed_text = texts(rng, 1, 60, 100)[0]
        for j, d in enumerate(ids):
            if j == 0:
                body[d] = seed_text
            else:
                body[d] = f"{seed_text} {VOCAB[int(rng.integers(0, len(VOCAB)))]} x{j}"
        clusters.append(sorted(int(i) for i in ids))
    # held-out benchmark set and planted contamination: a 12-token window
    # of a benchmark doc spliced into an otherwise random document
    bench = texts(rng, n_bench, 30, 60)
    contaminated = []
    for d in slots[cursor:cursor + n_contam]:
        src = bench[int(rng.integers(0, n_bench))].split()
        start = int(rng.integers(0, len(src) - 12))
        window = src[start:start + 12]
        host = body[d].split()
        at = int(rng.integers(0, len(host) + 1))
        body[d] = " ".join(host[:at] + window + host[at:])
        contaminated.append(int(d))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids, "text": body,
        "lang": pick(rng, ["en", "de", "es", "fr", "zh"], n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in body], dtype=np.int64)})
    write_parts(docs, os.path.join(out, "documents"), 4)
    write_parts(pa.table({"bench_id": np.arange(n_bench, dtype=np.int64), "text": bench}),
                os.path.join(out, "benchmark"), 1)
    return {"docs": n_docs, "clusters": clusters, "contaminated": sorted(contaminated)}


# --- graph_algos ------------------------------------------------------------

def gen_graph_algos(rng, out):
    replicas, n_ord, n_part, n_cat = 2, 6_000, 8_000, 5
    lines = rng.integers(1, 7, n_ord)
    o = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    # every order buys within one of n_cat part categories, so the base
    # graph has several components; within a category part popularity is
    # skewed (a few hot parts, a long tail) like real baskets
    per_cat = n_part // n_cat
    p = (o % n_cat) * per_cat + np.minimum(
        (rng.pareto(1.2, len(o)) * 80).astype(np.int64), per_cat - 1)
    # base structure: distinct co-occurring part pairs and their components
    pairs = set()
    start = 0
    for ln in lines:
        basket = np.unique(p[start:start + ln])
        start += ln
        for i in range(len(basket)):
            for j in range(i + 1, len(basket)):
                pairs.add((int(basket[i]), int(basket[j])))
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for ab in pairs for x in ab}
    comps = len({find(x) for x in nodes})
    # key-offset replication: every copy shifts order and part keys past
    # the base maxima, so the copies are disjoint isomorphic subgraphs
    o_off, p_off = n_ord, n_part
    li = pa.table({
        "l_orderkey": np.concatenate([o + r * o_off for r in range(replicas)]),
        "l_partkey": np.concatenate([p + r * p_off for r in range(replicas)]),
        "l_quantity": rng.integers(1, 51, len(o) * replicas).astype(np.float64)})
    write_parts(li, os.path.join(out, "lineitem"), 8)
    return {"replicas": replicas, "base_edges": len(pairs), "base_nodes": len(nodes),
            "base_components": comps, "edges": len(pairs) * replicas,
            "nodes": len(nodes) * replicas, "components": comps * replicas}


# --- stream_dedup -------------------------------------------------------------

def gen_stream_dedup(rng, out, n_files=3, per_file=200):
    n = n_files * per_file
    body = texts(rng, n, 20, 80)
    # planted near-dup pairs, half within one file and half across files
    planted, used = [], set()
    for k in range(n_files * 3):
        a = int(rng.integers(0, n))
        b = int(rng.integers(0, n)) if k % 2 else \
            (a // per_file) * per_file + int(rng.integers(0, per_file))
        if a == b or a in used or b in used:
            continue
        used.update((a, b))
        base = texts(rng, 1, 50, 80)[0]
        body[a], body[b] = base, base + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
        planted.append((min(a, b), max(a, b)))
    d = os.path.join(out, "backlog")
    os.makedirs(d, exist_ok=True)
    t0 = 1_600_000_000
    for f in range(n_files):
        ids = np.arange(f * per_file, (f + 1) * per_file, dtype=np.int64)
        path = os.path.join(d, f"batch-{f:05d}.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": body[f * per_file:(f + 1) * per_file]}),
                       path)
        # the file source orders a backlog by modification time: pin it
        os.utime(path, (t0 + f, t0 + f))
    # one more file of the same shape, drained by an earlier query during
    # set-up so the timed query starts on a warm JVM
    warm = os.path.join(out, "warmup")
    os.makedirs(warm)
    pq.write_table(pa.table({"doc_id": np.arange(n, n + per_file, dtype=np.int64),
                             "text": texts(rng, per_file, 20, 80)}),
                   os.path.join(warm, "batch-00000.parquet"))
    return {"files": n_files, "docs_per_file": per_file, "planted_pairs": sorted(planted)}


def main(argv):
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}")
    marker = os.path.join(out, "truth.json")
    if os.path.exists(marker):
        return
    rng = rng_for(workload, seed)
    truth = globals()["gen_" + workload](rng, out)
    truth.update(workload=workload, seed=seed)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, marker)


if __name__ == "__main__":
    main(sys.argv)
