"""Seeded input generator for the benchmark workloads.

Everything derives from one numpy PCG64 stream per (seed, table), so the same
seed writes byte-identical parquet files. The shapes follow the repository's
test data (TESTDATA.md: a TPC-H-ish star schema plus the `documents` /
`embeddings` corpus tables), so every SparkEntry query and its DuckDB oracle
run unchanged.

    python3 perfbench/gen.py <out_dir> --workload read_mix --seed 1 [--size tiny]

writes the inputs plus `manifest.json`: per file rows, bytes and sha256, and
for `dba_lifecycle` the operation script (`script.json`).
"""
import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. `full` is what the benchmark measures; `tiny` is the smoke
# size of the self-test. olap_k scales the TPC-H tables in units of sf0.01.
SIZES = {
    "full": dict(olap_k=1.0, dba_orders=7500, batch_rows=1000,
                 delete_keys=100, cycles=4, docs_base=600, emb_base=600,
                 replicas=4),
    "tiny": dict(olap_k=0.1, dba_orders=600, batch_rows=120,
                 delete_keys=20, cycles=4, docs_base=120, emb_base=120,
                 replicas=3),
}

FACT_ROW_GROUPS = 10

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def rng_for(seed, name):
    """One independent stream per (seed, table): adding a table never
    shifts another table's values."""
    tag = int.from_bytes(hashlib.sha256(name.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def days(base, offsets):
    return pa.array([base + dt.timedelta(days=int(d)) for d in offsets],
                    pa.timestamp("us"))


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)],
                    pa.string())


def write(out, name, table, row_groups=1):
    path = os.path.join(out, name + ".parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg)
    return path


# ---------------------------------------------------------------- TPC-H
def lineitem_values(r, orderkeys, linenumbers, n_part, n_supp):
    n = len(orderkeys)
    return {
        "l_orderkey": np.asarray(orderkeys, np.int64),
        "l_partkey": r.integers(0, n_part, n),
        "l_suppkey": r.integers(0, n_supp, n),
        "l_linenumber": np.asarray(linenumbers, np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900, 105000, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[r.integers(0, 3, n)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[r.integers(0, 2, n)],
        "l_shipdate": r.integers(0, 2499, n),
    }


def lineitem_rows(r, orderkeys, n_part, n_supp):
    """1..7 lines per order with sequential line numbers, so
    (l_orderkey, l_linenumber) is a key."""
    lines = r.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    return lineitem_values(r, ok, ln, n_part, n_supp)


def lineitem_table(cols, order=None):
    base = dt.datetime(1995, 1, 2)
    idx = np.arange(len(cols["l_orderkey"])) if order is None else order
    arrays = []
    for f in LINEITEM_SCHEMA:
        v = cols[f.name][idx]
        if f.name == "l_shipdate":
            arrays.append(days(base, v))
        else:
            arrays.append(pa.array(v, f.type))
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def gen_tpch(out, seed, k):
    n_c, n_s, n_p, n_o = (int(x * k) for x in (1500, 100, 2000, 15000))
    files = {}
    files["region"] = write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}))
    files["nation"] = write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    r = rng_for(seed, "customer")
    files["customer"] = write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_c), pa.float64()),
        "c_mktsegment": pick(r, SEGMENTS, n_c)}))
    r = rng_for(seed, "supplier")
    files["supplier"] = write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_s), pa.float64())}))
    r = rng_for(seed, "part")
    names = np.char.add(np.char.add(np.asarray(P_ADJ)[r.integers(0, 8, n_p)], " "),
                        np.asarray(P_NOUN)[r.integers(0, 8, n_p)])
    files["part"] = write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_p)], pa.string()),
        "p_type": pick(r, P_TYPES, n_p),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) * 0.1, 1), pa.float64())}))
    r = rng_for(seed, "orders")
    files["orders"] = write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_o),
        "o_totalprice": pa.array(money(r, 1000, 500000, n_o), pa.float64()),
        "o_orderdate": days(dt.datetime(1995, 1, 1), r.integers(0, 2399, n_o)),
        "o_orderpriority": pick(r, PRIORITIES, n_o)}), FACT_ROW_GROUPS)
    r = rng_for(seed, "lineitem")
    cols = lineitem_rows(r, np.arange(n_o), n_p, n_s)
    files["lineitem"] = write(out, "lineitem",
                              lineitem_table(cols, r.permutation(len(cols["l_orderkey"]))),
                              FACT_ROW_GROUPS)
    return files


# ---------------------------------------------------------------- corpus
def words(r, n_words):
    return " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), n_words))


def gen_corpus(out, seed, size):
    """`replicas` copies of a base corpus: replica r > 0 keeps a seeded
    share of the base texts as near-duplicates (suffix token) and draws
    fresh text for the rest. The share is what the dedup gates work on."""
    b, reps = size["docs_base"], size["replicas"]
    r = rng_for(seed, "documents")
    share = 0.65 + 0.1 * r.random()
    texts, langs = [], []
    for i in range(b):
        u = r.random()
        if i > 10 and u < 0.02:          # exact duplicate of an earlier doc
            j = int(r.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        t = words(r, int(r.integers(10, 100)))
        if i > 10 and u < 0.07:          # near duplicate: earlier doc + token
            t = texts[int(r.integers(0, i))] + " dup"
        elif u > 0.97:                   # a little PII for the scrubber
            t += f" mail user{i}@example.com call 555-{i % 900 + 100:03d}-{i % 9000 + 1000:04d}"
        texts.append(t)
        langs.append(LANGS[int(r.choice(5, p=LANG_P))])
    doc_text, doc_lang = list(texts), list(langs)
    for rep in range(1, reps):
        for i in range(b):
            if r.random() < share:
                doc_text.append(f"{texts[i]} r{rep}")
                doc_lang.append(langs[i])
            else:
                doc_text.append(words(r, int(r.integers(10, 100))))
                doc_lang.append(LANGS[int(r.choice(5, p=LANG_P))])
    n = len(doc_text)
    files = {"documents": write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(doc_text, pa.string()),
        "lang": pa.array(doc_lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in doc_text], pa.int64())}),
        FACT_ROW_GROUPS)}

    e = size["emb_base"]
    r = rng_for(seed, "embeddings")
    centroids = r.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

    def fresh(n):
        lab = r.integers(0, 10, n)
        v = 0.6 * centroids[lab] + r.normal(scale=0.125, size=(n, 64))
        return v, lab
    base, labels = fresh(e)
    vecs, labs = [base], [labels]
    for rep in range(1, reps):
        keep = r.random(e) < share
        nv, nl = fresh(e)
        near = base + r.normal(scale=0.01, size=base.shape)
        vecs.append(np.where(keep[:, None], near, nv))
        labs.append(np.where(keep, labels, nl))
    v = np.concatenate(vecs)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    n = len(v)
    files["embeddings"] = write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(labs), pa.int32())}), FACT_ROW_GROUPS)
    return files, {"near_dup_share": round(share, 6)}


# ---------------------------------------------------------------- lifecycle
def gen_lifecycle(out, seed, size):
    """Base lineitem commit plus the per-cycle operation script: an upsert
    batch (mostly recent keys, a minority of old ones, duplicate keys
    inside the batch), a delete set and a range read."""
    r = rng_for(seed, "lifecycle")
    n_o = size["dba_orders"]
    base = lineitem_rows(r, np.arange(n_o), 2000, 100)
    files = {"base": write(out, "base", lineitem_table(base))}
    live = set(zip(base["l_orderkey"].tolist(), base["l_linenumber"].tolist()))
    base_rows = len(live)
    next_order = n_o
    dup_rate = 0.04 + 0.04 * r.random()
    cycles = []
    for c in range(1, size["cycles"] + 1):
        n_batch = size["batch_rows"]
        n_new = max(1, int(n_batch * 0.55 / 4))
        new_keys = np.arange(next_order, next_order + n_new)
        next_order += n_new
        ins = lineitem_rows(r, new_keys, 2000, 100)   # recent keys: inserts
        n_ins = len(ins["l_orderkey"])
        keys = sorted(live)
        is_recent = np.asarray([k[0] >= n_o for k in keys])
        recent_i, old_i = np.flatnonzero(is_recent), np.flatnonzero(~is_recent)
        n_upd = max(1, n_batch - n_ins)
        n_recent = min(len(recent_i), int(n_upd * 0.4))
        upd_i = np.concatenate([r.choice(recent_i, n_recent, replace=False),
                                r.choice(old_i, n_upd - n_recent, replace=False)])
        uk = np.asarray([keys[i] for i in upd_i], np.int64).reshape(-1, 2)
        upd = lineitem_values(r, uk[:, 0], uk[:, 1], 2000, 100)
        batch = {k: np.concatenate([ins[k], upd[k]]) for k in ins}
        n = len(batch["l_orderkey"])
        n_dup = int(round(n * dup_rate))
        src = r.integers(0, n, n_dup)
        dup = lineitem_values(r, batch["l_orderkey"][src],
                              batch["l_linenumber"][src], 2000, 100)
        batch = {k: np.concatenate([batch[k], dup[k]]) for k in batch}
        order = r.permutation(len(batch["l_orderkey"]))
        bpath = write(out, f"batches/b{c:03d}", lineitem_table(batch, order))
        live.update(zip(batch["l_orderkey"].tolist(), batch["l_linenumber"].tolist()))

        keys = sorted(live)
        pick_i = r.choice(len(keys), size["delete_keys"], replace=False)
        dk = np.asarray([keys[i] for i in sorted(pick_i)], dtype=np.int64)
        dpath = write(out, f"deletes/d{c:03d}", pa.table({
            "l_orderkey": pa.array(dk[:, 0], pa.int64()),
            "l_linenumber": pa.array(dk[:, 1].astype(np.int32), pa.int32())}))
        live.difference_update(map(tuple, dk.tolist()))

        width = max(1, next_order // 50)
        lo = int(r.integers(0, max(1, next_order - width)))
        cycles.append({
            "cycle": c, "batch": os.path.relpath(bpath, out),
            "batch_rows": int(len(order)),
            "batch_bytes": os.path.getsize(bpath),
            "deletes": os.path.relpath(dpath, out),
            "delete_rows": int(len(dk)),
            "read_lo": lo, "read_hi": lo + width,
            "live_rows": len(live),
        })
    script = {"base": "base.parquet", "base_rows": base_rows,
              "keys": ["l_orderkey", "l_linenumber"],
              "dup_rate": round(dup_rate, 6), "cycles": cycles}
    return files, script


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(out, workload, seed, size_name="full"):
    size = SIZES[size_name]
    os.makedirs(out, exist_ok=True)
    info = {}
    if workload == "read_mix":
        files = gen_tpch(out, seed, size["olap_k"])
        corpus, info = gen_corpus(out, seed, size)
        files.update(corpus)
    elif workload == "dba_lifecycle":
        files, script = gen_lifecycle(out, seed, size)
        with open(os.path.join(out, "script.json"), "w") as f:
            json.dump(script, f, indent=1, sort_keys=True)
        info = {"dup_rate": script["dup_rate"]}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    tables = {}
    for root, _, names in os.walk(out):
        for name in sorted(names):
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                tables[os.path.relpath(p, out)] = {
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p), "sha256": sha256(p)}
    manifest = {"workload": workload, "seed": seed, "size": size_name,
                "files": dict(sorted(tables.items())), **info}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    a = ap.parse_args()
    m = generate(a.out, a.workload, a.seed, a.size)
    print(json.dumps({k: v["rows"] for k, v in m["files"].items()}))
