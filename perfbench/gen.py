"""Seeded input generator for the benchmark.

Every table has the schema of graft's declared inputs (the TPC-H-ish star
schema plus `events`, `documents` and `embeddings`), one parquet file per
table, so every declared query and its DuckDB oracle run on it unchanged.
The same seed gives byte-identical files.

  base(dir, seed, sf)        the star/curate inputs at scale factor `sf`
  scale10(dir, seed, base)   a 10x replica of `base`: fact keys remapped per
                             copy, dims at 1x, one file per copy, and a
                             seeded share of near-duplicate (not exact)
                             document copies
  ingest_splits(dir, seed, base)
                             the ingest workload's base/shard/batch splits
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("a the data row column table key value join hash sort merge scan "
         "filter group agg window stream batch spark query part line order "
         "customer vector big small fast slow").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil nut".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DUP_SHARE = 0.05          # documents that repeat another's text + " dup"
NEAR_DUP_SHARE = 0.3      # scale10 document copies that are edited, not exact
DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _choice(rng, items, n, p=None):
    return pa.array(np.asarray(items, dtype=object)[rng.choice(len(items), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Word-soup documents: 10-100 words each from VOCAB; DUP_SHARE of them
    repeat an earlier-generated document's text with a trailing " dup"."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        if s != d:
            out[d] = out[s] + " dup"
    return out


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] * 0.6 + rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat), labels.astype(np.int32)


def base_tables(seed, sf):
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = _us("1995-01-01"), _us("2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    s0 = _us("1995-01-02")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(s0 + rng.integers(0, 2498, n_li) * DAY_US)})
    e0 = _us("2024-01-01")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(e0 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb, labels = _embeddings(rng, n_emb)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": emb, "label": labels})
    return t


def base(out_dir, seed, sf):
    """Write the base tables; returns them for the derived generators."""
    os.makedirs(out_dir, exist_ok=True)
    t = base_tables(seed, sf)
    for name, table in t.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return t


def _edit(rng, text):
    """A near-duplicate: one word replaced, one word appended."""
    words = text.split(" ")
    words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
    words.append(VOCAB[rng.integers(0, len(VOCAB))])
    return " ".join(words)


def scale10(out_dir, seed, t, copies=10):
    """10x replica of the base tables `t`. Fact tables (orders, lineitem,
    events, documents) get `copies` files with keys offset per copy; the
    dimension tables and embeddings stay at 1x."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part", "embeddings"]:
        _write(t[name], f"{out_dir}/{name}.parquet")
    n_ord = t["orders"].num_rows
    n_users = max(1, int(pa.compute.max(t["events"]["user_id"]).as_py()) + 1)
    n_ev, n_doc = t["events"].num_rows, t["documents"].num_rows

    def offset(table, col, by):
        i = table.schema.get_field_index(col)
        return table.set_column(i, col, pa.compute.add(table[col], pa.scalar(by, pa.int64())))

    for name in ["orders", "lineitem", "events", "documents"]:
        os.makedirs(f"{out_dir}/{name}.parquet", exist_ok=True)
    texts = t["documents"]["text"].to_pylist()
    for c in range(copies):
        o = offset(t["orders"], "o_orderkey", c * n_ord)
        li = offset(t["lineitem"], "l_orderkey", c * n_ord)
        ev = offset(offset(t["events"], "event_id", c * n_ev), "user_id", c * n_users)
        doc = offset(t["documents"], "doc_id", c * n_doc)
        if c > 0:
            edited = rng.random(n_doc) < NEAR_DUP_SHARE
            new = [_edit(rng, x) if e else x for x, e in zip(texts, edited)]
            doc = doc.set_column(1, "text", pa.array(new, pa.string()))
            doc = doc.set_column(4, "n_chars",
                                 pa.array([len(x) for x in new], pa.int64()))
        for name, table in [("orders", o), ("lineitem", li), ("events", ev),
                            ("documents", doc)]:
            _write(table, f"{out_dir}/{name}.parquet/part-{c:05d}.parquet")


def ingest_splits(out_dir, seed, t, shard_share=0.25, batch_size=200):
    """The ingest workload's inputs: the lineitem fact (written partitioned
    by the harness), documents and embeddings each split into an indexed
    base and an appended shard, and an ingest batch mixing fresh documents
    with near-duplicates of indexed ones. Document ids stay unique across
    base, shard and batch."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    _write(t["lineitem"], f"{out_dir}/lineitem.parquet")
    for name in ["documents", "embeddings"]:
        tab = t[name]
        in_shard = rng.random(tab.num_rows) < shard_share
        _write(tab.filter(pa.array(~in_shard)), f"{out_dir}/{name}_base.parquet")
        _write(tab.filter(pa.array(in_shard)), f"{out_dir}/{name}_shard.parquet")
    docs = t["documents"]
    n_doc = docs.num_rows
    picks = rng.choice(n_doc, batch_size, replace=False)
    texts = docs["text"].to_pylist()
    fresh = _texts(rng, batch_size // 2)
    batch_text = [_edit(rng, texts[p]) for p in picks[:batch_size - len(fresh)]] + fresh
    _write(pa.table({
        "doc_id": np.arange(n_doc, n_doc + batch_size, dtype=np.int64),
        "text": batch_text,
        "lang": docs["lang"].take(pa.array(picks)),
        "source": docs["source"].take(pa.array(picks)),
        "n_chars": np.array([len(x) for x in batch_text], dtype=np.int64)}),
        f"{out_dir}/batch.parquet")


def input_stats(d):
    """(rows, bytes) over every parquet file under `d`."""
    rows = size = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size


def generate(workload, data_dir, seed, sf):
    """Generate `workload`'s inputs under `data_dir` (replaced if present);
    returns the directory the harness reads."""
    shutil.rmtree(data_dir, ignore_errors=True)
    if workload == "scale10":
        t = base_tables(seed, sf)
        scale10(data_dir, seed, t)
    elif workload == "ingest":
        ingest_splits(data_dir, seed, base_tables(seed, sf))
    else:
        base(data_dir, seed, sf)
    return data_dir
