"""Seeded input generator for the graft benchmark.

Every workload input is a directory holding the ten fixture tables
(region nation customer supplier part orders lineitem events documents
embeddings) with the fixture schemas of FIXTURES.md section B, so the
engine's `SparkEntry` queries and the DuckDB oracles of
`scripts/check.py` read them unchanged.  The same seed writes the same
bytes: all randomness comes from one `numpy.random.Generator` per table,
seeded from (seed, table name, copy).

Rules, as `SHAPES` below states them per workload:
- star-schema amplification: the base star schema is written `amp`
  times with the row keys `l_orderkey`, `o_orderkey` and `event_id`
  shifted by copy * 10**7 (the ScaleSmoke rule); the dimension keys stay,
  so every copy still joins its customers, parts and suppliers.
- near-duplicate corpus: documents of the fixture's shape (10 to 99
  words from its 30-word vocabulary; the fixture itself is not in the
  repository), of which a share `dup_rate` repeat an earlier document of
  the same corpus with ScaleSmoke's mutation (`text + " copyvariant<i>
  tail"`).
- graph sources and serve requests are drawn from the seed and written
  to the manifest; the engine sees only the files.
"""
import datetime
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEY_SHIFT = 10_000_000
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
UTC = datetime.timezone.utc
EPOCH_1995 = int(datetime.datetime(1995, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
EPOCH_2024 = int(datetime.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000

# Input shape of each workload.  `star` is the base star-schema size in
# customers (orders = 10x, lineitem ~ 40x, events ~ 6.7x), `amp` the
# key-shifted multiple, `docs` the documents per corpus, `shards` the
# fresh corpus shards a run may consume and `sources` the seeded graph
# sources.
SHAPES = {
    "olap_ladder": {"star": 1500, "amp": 2, "docs": 200},
    "corpus_clean": {"star": 150, "amp": 1, "docs": 500, "dup_rate": 0.25,
                     "shards": 48},
    "graph_routing": {"star": 600, "amp": 1, "docs": 100, "sources": 256},
    "rag_serve": {"star": 150, "amp": 1, "docs": 300, "dup_rate": 0.05},
}


def rng(seed, *parts):
    return np.random.default_rng(
        [seed] + [zlib.crc32(str(p).encode()) for p in parts])


def write(table, path, row_groups=1):
    rows = max(table.num_rows, 1)
    pq.write_table(table, path, row_group_size=-(-rows // row_groups),
                   compression="snappy", store_schema=False)


def ts_col(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def star_tables(seed, n_cust, amp, row_groups):
    """The star schema plus events, amplified `amp` times by key shift."""
    r = rng(seed, "dims")
    n_supp, n_part = max(10, n_cust // 15), max(20, n_cust * 4 // 3)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                r.choice("red hot large cold small new blue old".split(), n_part),
                r.choice("widget gizmo ring gear bolt plate anvil rod".split(),
                         n_part))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO",
                                "SMALL", "MEDIUM"], n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                      1)}),
    }
    orders, lines, events = [], [], []
    for copy in range(amp):
        r = rng(seed, "facts", copy)
        n_ord = n_cust * 10
        okey = np.arange(n_ord, dtype=np.int64) + copy * KEY_SHIFT
        odate = EPOCH_1995 + r.integers(0, 2400, n_ord) * DAY_US
        orders.append(pa.table({
            "o_orderkey": okey,
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": ts_col(odate),
            "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
        n_li = n_ord * 4
        li_ord = r.integers(0, n_ord, n_li)
        qty = r.integers(1, 51, n_li).astype(np.float64)
        lines.append(pa.table({
            "l_orderkey": li_ord.astype(np.int64) + copy * KEY_SHIFT,
            "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": ts_col(odate[li_ord] + r.integers(1, 120, n_li) * DAY_US)}))
        n_ev = n_cust * 20 // 3
        events.append(pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64) + copy * KEY_SHIFT,
            "ts": ts_col(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n_ev))),
            "user_id": r.integers(0, max(n_cust // 10, 1), n_ev).astype(np.int64),
            "event_type": r.choice(["error", "view", "purchase", "click",
                                    "signup"], n_ev),
            "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}))
    out["orders"] = pa.concat_tables(orders)
    out["lineitem"] = pa.concat_tables(lines)
    out["events"] = pa.concat_tables(events)
    return out


def documents(seed, tag, n_docs, dup_rate, first_id):
    """`n_docs` documents, of which exactly round(dup_rate * n_docs) are
    near-duplicates of an earlier one.  The originals' lengths are one
    fixed spread of 10 to 99 words in a seeded order, so every corpus of a
    size carries the same word mass."""
    r = rng(seed, "docs", tag)
    n_dups = round(dup_rate * n_docs)
    dup_at = set(r.choice(np.arange(1, n_docs), n_dups, replace=False).tolist())
    lengths = iter(r.permutation(np.linspace(10, 99, n_docs - n_dups).round()))
    texts, originals = [], []
    for i in range(n_docs):
        if i in dup_at:
            base = originals[int(r.integers(0, len(originals)))]
            texts.append(f"{base} copyvariant{i} tail")
        else:
            originals.append(" ".join(r.choice(VOCAB, int(next(lengths)))))
            texts.append(originals[-1])
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64) + first_id,
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return table, n_dups


def embeddings(seed, n_vecs):
    r = rng(seed, "emb")
    cents = r.normal(0.0, 0.12, (10, 64))
    label = r.integers(0, 10, n_vecs)
    vecs = (cents[label] + r.normal(0.0, 0.08, (n_vecs, 64))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_dir(path, tables, row_groups=1):
    os.makedirs(path, exist_ok=True)
    for name, t in tables.items():
        write(t, os.path.join(path, f"{name}.parquet"),
              row_groups if name in ("lineitem", "orders", "events") else 1)


def link_dir(path, src, names):
    """Hard-link `names` from `src`, so a shard dir stays complete cheaply."""
    os.makedirs(path, exist_ok=True)
    for n in names:
        os.link(os.path.join(src, f"{n}.parquet"),
                os.path.join(path, f"{n}.parquet"))


def table_props(path):
    props = {}
    for n in TABLES:
        f = os.path.join(path, f"{n}.parquet")
        md = pq.ParquetFile(f).metadata
        props[n] = {"rows": md.num_rows, "bytes": os.path.getsize(f),
                    "files": 1, "row_groups": md.num_row_groups}
    return props


def generate(workload, seed, root, cpus):
    """Write the inputs of `workload` under `root`; return the manifest."""
    shape = SHAPES[workload]
    base = os.path.join(root, "base")
    star = star_tables(seed, shape["star"], shape["amp"], cpus)
    docs, dups = documents(seed, "base", shape["docs"],
                           shape.get("dup_rate", 0.05), 0)
    write_dir(base, dict(star, documents=docs, embeddings=embeddings(seed, 500)),
              cpus)
    man = {"workload": workload, "seed": seed, "base": base,
           "amplification": shape["amp"], "key_shift": KEY_SHIFT,
           "dup_rate": shape.get("dup_rate", 0.05), "base_dups": dups}
    r = rng(seed, "requests")
    if workload == "corpus_clean":
        shards, shard_dups = [], 0
        for i in range(shape["shards"]):
            d = os.path.join(root, f"shard_{i:03d}")
            link_dir(d, base, [t for t in TABLES if t != "documents"])
            t, n = documents(seed, f"shard{i}", shape["docs"],
                             shape["dup_rate"], (i + 1) * 1_000_000)
            write(t, os.path.join(d, "documents.parquet"))
            shards.append(d)
            shard_dups += n
        man["shards"] = shards
        man["shard_docs"] = shape["docs"]
        man["shard_dup_share"] = shard_dups / (shape["docs"] * shape["shards"])
    elif workload == "graph_routing":
        # customers with at least one order are the graph's nodes
        man["sources"] = [int(s) for s in
                          r.choice(shape["star"], shape["sources"], replace=False)]
    elif workload == "rag_serve":
        # Requests take the shape of the canonical batches of the queries
        # the serve paths are cut from.  A dense request is q231's batch
        # shifted by a residue: the chunks with vec_id % 50 == r, r in
        # 1..49 (r = 0 is the canonical batch, served in the warm-up).  The
        # lexical path's only batch knob is q229's modulus (cid % m == 0,
        # canonically 50); m runs over 40..60 without 50, so a batch holds
        # as many queries as the canonical one on average (a sixth fewer
        # to a quarter more), and none divides another, so batches share
        # few queries.  Both are drawn in a seeded order without
        # replacement.
        man["dense_residues"] = [int(x) for x in r.permutation(np.arange(1, 50))]
        man["lexical_mods"] = [int(m) for m in
                               r.permutation([m for m in range(40, 61) if m != 50])]
    man["tables"] = table_props(base)
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man
