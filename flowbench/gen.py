"""Seeded inputs for the flow benchmark.

Everything the program reads is made here from one integer seed: the same
seed gives byte-identical files. Two kinds of input:

* flow files: newline-delimited NetObserv flow JSON, the records FlowApp
  consumes from Kafka (or, for replay, from a directory of files);
* query tables: the ten parquet tables the declared queries read, at the
  shape and scale of the sf0.01 testdata (same schemas and value ranges).

Usage (regenerates every input of every workload):
    python3 flowbench/gen.py --seed 1 --out flowbench/.work/inputs
"""
import argparse
import functools
import os
import random

# Make-up of the flow records. Only the malformed share has a source (the
# 1% point of ROADMAP B2's sweep); the others are choices, not measured
# traffic. README "Inputs" lists each with the metrics it drives.
MALFORMED_SHARE = 0.01     # lines that are not JSON objects
EMPTY_SHARE = 0.002        # `{}` records: every column takes its default
MISSING_SHARE = 0.10       # records missing 1-3 optional fields
EXTRA_SHARE = 0.30         # records with extra keys the pipeline ignores
FRAC_BYTES_SHARE = 0.10    # records whose Bytes has a fraction (truncated)
FRAC_PACKETS_SHARE = 0.05  # records whose Packets has a fraction

# Start and source address are never dropped: together they are the upsert
# key, and each record gets its own start second, so every (start, src_ip)
# (and every (start second, src_ip)) maps to exactly one payload.
OPTIONAL = ["TimeFlowEndMs", "DstAddr", "SrcK8S_Name", "DstK8S_Name",
            "SrcK8S_Type", "DstK8S_Type", "SrcK8S_Namespace",
            "DstK8S_Namespace", "Bytes", "Packets"]
KINDS = ["Pod", "Pod", "Pod", "Service", "Node"]
APPS = ["prometheus-k8s", "router-default", "etcd", "apiserver", "coredns",
        "ingress", "loki", "kafka", "clickhouse", "flowlogs-pipeline",
        "console", "oauth", "grafana", "alertmanager", "node-exporter"]
NAMESPACES = ["openshift-monitoring", "openshift-ingress", "openshift-etcd",
              "openshift-apiserver", "openshift-dns", "netobserv", "kafka",
              "default", "openshift-console", "openshift-authentication",
              "loki", "clickhouse"]
START_S = 1695723000  # 2023-09-26, the reference README's capture date


def _names(rng, n):
    return [f"{rng.choice(APPS)}-{rng.getrandbits(40):010x}" for _ in range(n)]


def _ips(rng, n):
    return [f"10.{rng.randrange(128, 132)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
            for _ in range(n)]


def _bodies(rng, n, ips, names):
    """`n` record bodies: every field but start, end and source address,
    with the make-up above. Returns (has_end, text) pairs."""
    out = []
    for _ in range(n):
        f = {
            "DstAddr": '"' + rng.choice(ips) + '"',
            "SrcK8S_Name": '"' + rng.choice(names) + '"',
            "DstK8S_Name": '"' + rng.choice(names) + '"',
            "SrcK8S_Type": '"' + rng.choice(KINDS) + '"',
            "DstK8S_Type": '"' + rng.choice(KINDS) + '"',
            "SrcK8S_Namespace": '"' + rng.choice(NAMESPACES) + '"',
            "DstK8S_Namespace": '"' + rng.choice(NAMESPACES) + '"',
            "Bytes": str(rng.randrange(40, 200000)),
            "Packets": str(rng.randrange(1, 200)),
        }
        if rng.random() < FRAC_BYTES_SHARE:
            f["Bytes"] += f".{rng.randrange(1, 10)}"
        if rng.random() < FRAC_PACKETS_SHARE:
            f["Packets"] += f".{rng.randrange(1, 10)}"
        has_end = True
        if rng.random() < MISSING_SHARE:
            for k in rng.sample(OPTIONAL, rng.randrange(1, 4)):
                if k == "TimeFlowEndMs":
                    has_end = False
                else:
                    del f[k]
        if rng.random() < EXTRA_SHARE:
            f["Proto"] = str(rng.choice([6, 17]))
            f["SrcPort"] = str(rng.randrange(1024, 65536))
            f["DstPort"] = str(rng.choice([443, 8080, 9092, 9000]))
            f["Interface"] = '"eth0"'
        out.append((has_end, "".join(f',"{k}":{v}' for k, v in f.items())))
    return out


@functools.lru_cache(maxsize=1)
def _pools(seed):
    rng = random.Random(seed)
    ips = _ips(rng, 2000)
    return ips, _bodies(rng, 4096, ips, _names(rng, 400))


def file_records(seed, f, files, n):
    """The well-formed records of file `f` of `files`: records
    f*n//files .. (f+1)*n//files - 1, in a seeded random order. Record i starts in second START_S + i, so no
    two records share a start second."""
    import numpy as np
    ips, bodies = _pools(seed)
    g = np.random.default_rng([seed, f])
    idx = np.arange(f * n // files, (f + 1) * n // files, dtype=np.int64)
    k = len(idx)
    start = (START_S + idx) * 1000 + g.integers(0, 1000, k)
    end = start + g.integers(0, 5000, k)
    ip = g.integers(0, len(ips), k)
    body = g.integers(0, len(bodies), k)
    empty = g.random(k) < EMPTY_SHARE
    with_end = '{"TimeFlowStartMs":%d,"TimeFlowEndMs":%d,"SrcAddr":"%s"%s}'
    no_end = '{"TimeFlowStartMs":%d,"SrcAddr":"%s"%s}'
    out = []
    for s, e, i, b, z in zip(start.tolist(), end.tolist(), ip.tolist(), body.tolist(), empty.tolist()):
        if z:
            out.append("{}")
            continue
        has_end, rest = bodies[b]
        out.append(with_end % (s, e, ips[i], rest) if has_end else no_end % (s, ips[i], rest))
    return [out[j] for j in g.permutation(k).tolist()]


def malformed(rng, good):
    kind = rng.randrange(3)
    if kind == 0:
        return "not-json{{{"
    if kind == 1:  # a record cut short, as a torn write would leave it
        return good[: rng.randrange(1, max(2, len(good) - 1))]
    return '{"TimeFlowStartMs":,"SrcAddr":"10.0.0.1"}'


def _write_file(job):
    """Write flow file `f`: its records, redelivered byte-identical copies
    of records from it and the file before it (at-least-once delivery: a
    copy lands after its original), and malformed lines. Returns the number
    of lines."""
    seed, f, files, n, redeliver, path = job
    import numpy as np
    rng = random.Random(seed * 1_000_003 + f)
    g = np.random.default_rng([seed, f, 1])
    recs = file_records(seed, f, files, n)
    prev = file_records(seed, f - 1, files, n) if f > 0 and redeliver else []
    lines, pos = list(recs), list(range(len(recs)))
    for j in g.integers(0, len(prev) + len(recs), g.binomial(len(recs), redeliver)).tolist():
        if j < len(prev):
            lines.append(prev[j])
            pos.append(g.uniform(0, len(recs)))
        else:
            j -= len(prev)
            lines.append(recs[j])
            pos.append(g.uniform(j, len(recs)))
    for _ in range(g.binomial(len(lines), MALFORMED_SHARE)):
        lines.append(malformed(rng, rng.choice(recs)))
        pos.append(g.uniform(0, len(recs)))
    lines = [lines[j] for j in np.argsort(np.array(pos, dtype=np.float64), kind="stable").tolist()]
    with open(path, "w") as fh:
        fh.write("".join(line + "\n" for line in lines))
    return len(lines)


def write_flows(seed, out_dir, n_records, n_files, redeliver_share=0.0):
    """Write `n_records` unique records, with redelivered copies and
    malformed lines, over `n_files` files (in parallel, at most 4
    processes). Returns the number of lines written."""
    import multiprocessing
    os.makedirs(out_dir, exist_ok=True)
    jobs = [(seed, f, n_files, n_records, redeliver_share, os.path.join(out_dir, f"flows-{f:05d}.json"))
            for f in range(n_files)]
    workers = min(4, os.cpu_count() or 1, n_files)
    if workers == 1 or n_records < 100_000:
        return sum(map(_write_file, jobs))
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        return sum(pool.map(_write_file, jobs))


def write_tables(seed, out_dir):
    """The ten declared-query tables at sf0.01 shape (FIXTURES.md §2)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(lo, hi, n):
        d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = d0 + g.integers(0, (d1 - d0).astype(int) + 1, n)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def i32(x):
        return pa.array(x, pa.int32())

    put("region", {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(g.integers(0, 25, n_cust)),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": [segs[i] for i in g.integers(0, 5, n_cust)]})
    put("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(g.integers(0, 25, n_supp)),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
    noun = ["ring", "widget", "plate", "rod", "bolt", "gear", "gizmo", "anvil"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    put("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                            zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                 "p_type": [ptypes[t] for t in g.integers(0, 6, n_part)],
                 "p_size": i32(g.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    put("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": g.integers(0, n_cust, n_ord),
                   "o_orderstatus": [("F", "O", "P")[s] for s in g.integers(0, 3, n_ord)],
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
                   "o_orderpriority": [prio[p] for p in g.integers(0, 5, n_ord)]})
    put("lineitem", {"l_orderkey": g.integers(0, n_ord, n_li),
                     "l_partkey": g.integers(0, n_part, n_li),
                     "l_suppkey": g.integers(0, n_supp, n_li),
                     "l_linenumber": i32(g.integers(1, 8, n_li)),
                     "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(900, 105000, n_li),
                     "l_discount": np.round(g.integers(0, 11, n_li) * 0.01, 2),
                     "l_tax": np.round(g.integers(0, 9, n_li) * 0.01, 2),
                     "l_returnflag": [("A", "N", "R")[f] for f in g.integers(0, 3, n_li)],
                     "l_linestatus": [("F", "O")[f] for f in g.integers(0, 2, n_li)],
                     "l_shipdate": days("1995-01-02", "2001-11-04", n_li)})
    n_ev = 10000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(g.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    etypes = ["click", "signup", "error", "view", "purchase"]
    put("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": g.integers(0, 150, n_ev),
                   "event_type": [etypes[e] for e in g.integers(0, 5, n_ev)],
                   "value": np.maximum(np.round(g.exponential(50.0, n_ev), 2), 0.01),
                   "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    vocab = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
             "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
             "window", "data", "column", "join", "small", "big", "query",
             "customer", "order", "group", "filter", "stream", "vector", "big"]
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    n_doc = 500
    texts = [" ".join(vocab[w] for w in g.integers(0, len(vocab), g.integers(10, 100)))
             for _ in range(n_doc)]
    put("documents", {"doc_id": np.arange(n_doc, dtype=np.int64),
                      "text": texts,
                      "lang": [langs[i] for i in g.integers(0, len(langs), n_doc)],
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb, dim = 500, 64
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, dim))
    v = centers[labels] + g.normal(0, 1.5, (n_emb, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(v), pa.list_(pa.float32())),
                       "label": i32(labels)})


# Inputs of each workload: (records, files) of the timed backlog and of the
# smaller warm-up backlog, and the redelivered share. ingest_parquet's 16
# files are one micro-batch (FileFlowSource reads 16 files per trigger), so
# ParquetSink's 5 s trigger never holds a batch back. upsert_jdbc's share is
# one consumer restart per drain re-reading one 500 ms commit interval
# (README "Inputs").
FLOWS = {
    "ingest_parquet": dict(records=2_400_000, files=16, warm=(100_000, 4), redeliver=0.0),
    "upsert_jdbc": dict(records=4_000, files=128, warm=(500, 4), redeliver=0.125),
    "query_mix": dict(records=5_000, files=4, warm=None, redeliver=0.0),
}


def generate(workload, seed, in_dir, records=None):
    """Write every input of `workload` under `in_dir`: flow files in
    `flows/` (and `warm/`), each with a `<dir>.lines` record count beside
    it; query tables in `tables/`."""
    spec = FLOWS[workload]
    # distinct streams per input, all fixed by the seed
    sets = [("flows", seed * 3 + 1, records or spec["records"], spec["files"])]
    if spec["warm"]:
        sets.append(("warm", seed * 3 + 2, *spec["warm"]))
    for name, s, n, files in sets:
        lines = write_flows(s, os.path.join(in_dir, name), n, files, spec["redeliver"])
        with open(os.path.join(in_dir, f"{name}.lines"), "w") as fh:
            fh.write(f"{lines}\n")
    if workload == "query_mix":
        write_tables(seed * 3 + 3, os.path.join(in_dir, "tables"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    for w in FLOWS:
        generate(w, a.seed, os.path.join(a.out, w))
    print(f"inputs for seed {a.seed} under {a.out}")


if __name__ == "__main__":
    main()
