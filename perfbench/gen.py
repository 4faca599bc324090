#!/usr/bin/env python3
"""Seeded testdata generator for the benchmark.

Same tables, schemas, physical parquet types and value vocabularies as
`tools/gen_sf.py`, but the RNG seed and the scale are arguments: the
same (seed, scale) always yields the same rows.

`scale` is a multiplier over the sf0.1 row counts (1.0 = sf0.1,
0.1 = sf0.01). Row-group sizes shrink with the scale below 1.0 so a
small corpus keeps sf0.1's multi-row-group layout instead of
collapsing into one row group per file.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import hashlib
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector a").split()
LANGS = [("en", 0.8), ("zh", 0.05), ("de", 0.05), ("fr", 0.05), ("es", 0.05)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
ADJS = ["large", "hot", "blue", "red", "small", "dark", "light", "cold"]
NOUNS = ["ring", "bolt", "case", "drum", "tube", "disk", "cap", "rod"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(base: int, scale: float) -> int:
    return max(1, int(round(base * scale)))


def _rg(base: int, scale: float) -> int:
    return max(64, int(math.ceil(base * min(1.0, scale))))


def tables(seed: int, scale: float):
    """Yield (name, pyarrow table, row_group_size or None) in write order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _rows(15000, scale), _rows(1000, scale)
    n_part, n_ord = _rows(20000, scale), _rows(150000, scale)
    n_ev, n_doc, n_emb = _rows(100000, scale), _rows(5000, scale), _rows(2000, scale)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}), None
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), None
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(1000, 500000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}), None
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(1000, 10000, n_supp), 2)}), None
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJS[i % 8]} {NOUNS[(i // 8) % 8]}" for i in range(n_part)],
        "p_brand": [f"Brand#{1 + (i % 20)}" for i in range(n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 1)}), None

    day_ms = 86400000
    o_epoch = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    o_date_ms = o_epoch + rng.integers(0, 2404, n_ord) * day_ms
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(o_date_ms, pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}), \
        _rg(131072, scale)

    lines_per = rng.integers(1, 8, n_ord)
    l_okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_okey)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    ship_ms = np.repeat(o_date_ms, lines_per) + rng.integers(1, 96, n_li) * day_ms
    yield "lineitem", pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship_ms, pa.timestamp("ms"))}), _rg(131072, scale)

    ev_epoch = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64)
    ev_ns = ev_epoch + rng.integers(0, 30 * 86400 * 10**9, n_ev, dtype=np.int64)
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(ev_ns), pa.timestamp("ns")),
        "user_id": rng.integers(0, n_cust, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(80, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), \
        _rg(65536, scale)

    lang_names = [l for l, _ in LANGS]
    lang_p = [p for _, p in LANGS]
    n_toks = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in n_toks]
    # exact-dup rate ~0.2%, mirroring the shipped corpus
    for i in rng.integers(n_doc // 2, n_doc, max(1, n_doc // 500)):
        texts[i] = texts[i - n_doc // 2]
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(lang_names)[rng.choice(len(LANGS), n_doc, p=lang_p)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), \
        _rg(2048, scale)

    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + 0.25 * rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), _rg(2048, scale)


def generate(out: str, seed: int, scale: float) -> dict:
    """Write every table as `<out>/<name>.parquet`; return {name: rows}."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name, table, rg in tables(seed, scale):
        kw = {"row_group_size": rg} if rg is not None else {}
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       version="2.6", **kw)
        rows[name] = table.num_rows
    return rows


def lifecycle(out: str, seed: int, rounds: int = 60) -> None:
    """Write the index_lifecycle plan and its batches under `<out>/lifecycle`.

    Round 0 creates the snapshot and builds the three indexes over the
    first half of the documents and embeddings; every later round appends
    the next slice, upserts, deletes and updates live documents, and
    reads; every second round then compacts every artifact. `plan.tsv`
    holds one `round<TAB>verb<TAB>args` line per call, in call order.
    """
    rng = np.random.default_rng(seed + 7919)
    lc = os.path.join(out, "lifecycle")
    os.makedirs(lc, exist_ok=True)
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    embs = pq.read_table(os.path.join(out, "embeddings.parquet"))
    ids = docs.column("doc_id").to_numpy()
    text = dict(zip(ids.tolist(), docs.column("text").to_pylist()))
    source = dict(zip(ids.tolist(), docs.column("source").to_pylist()))
    vids = embs.column("vec_id").to_numpy()
    n_base, v_base = len(ids) // 2, len(vids) // 2
    step, vstep = max(2, len(ids) // 100), max(1, len(vids) // 100)

    def doc_batch(name, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "rev": pa.array([r[1] for r in rows], pa.int32()),
            "source": [r[2] for r in rows], "text": [r[3] for r in rows]}),
            os.path.join(lc, name))
        return name

    def vec_batch(name, sel):
        pq.write_table(embs.filter(pa.array(np.isin(vids, sel))), os.path.join(lc, name))
        return name

    def csv(xs):
        return ",".join(str(int(x)) for x in xs)

    live = [int(i) for i in ids[:n_base]]
    vlive = [int(i) for i in vids[:v_base]]
    base = doc_batch("base.parquet", [(i, 1, source[i], text[i]) for i in live])
    vbase = vec_batch("vec_base.parquet", vlive)
    plan = [(0, "create", base), (0, "bm25_build", base, n_base),
            (0, "phrase_build", base, n_base), (0, "pq_build", vbase, v_base)]
    nxt, vnxt = n_base, v_base
    for r in range(1, rounds + 1):
        new = [int(i) for i in ids[nxt:nxt + step]]
        nxt += len(new)
        vnew = [int(i) for i in vids[vnxt:vnxt + vstep]]
        vnxt += len(vnew)
        if new:
            app = doc_batch(f"r{r}_append.parquet", [(i, 1, source[i], text[i]) for i in new])
            plan += [(r, "append", app), (r, "bm25_append", app), (r, "phrase_append", app)]
            live += new
        if vnew:
            plan.append((r, "pq_append", vec_batch(f"r{r}_vec.parquet", vnew)))
            vlive += vnew
        up = sorted(rng.choice(live, min(step, len(live)), replace=False).tolist())
        plan.append((r, "merge", doc_batch(f"r{r}_merge.parquet", [
            (i, r + 1, source[i], f"{text[i]} revision {r}") for i in up])))
        gone = sorted(rng.choice(live, min(max(1, step // 2), len(live) - 1),
                                 replace=False).tolist())
        live = [i for i in live if i not in set(gone)]
        plan += [(r, "delete", csv(gone)), (r, "bm25_delete", csv(gone)),
                 (r, "phrase_delete", csv(gone))]
        vgone = sorted(rng.choice(vlive, 1, replace=False).tolist())
        vlive = [i for i in vlive if i not in set(vgone)]
        plan.append((r, "pq_delete", csv(vgone)))
        upd = sorted(rng.choice(live, min(max(1, step // 2), len(live)), replace=False).tolist())
        plan.append((r, "update", f"upd{r}", csv(upd)))
        lo = int(rng.choice(live))
        plan += [(r, "read_where", lo), (r, "change_feed"), (r, "bm25_search"),
                 (r, "phrase_search"), (r, "pq_search")]
        if r % 2 == 0:
            plan.append((r, "compact"))
    with open(os.path.join(lc, "plan.tsv"), "w") as f:
        for line in plan:
            f.write("\t".join(str(x) for x in line) + "\n")


def row_hash(path: str) -> str:
    """Order-sensitive digest of a parquet file's rows (not its bytes)."""
    h = hashlib.sha256()
    for batch in pq.read_table(path).to_batches():
        for col in batch.columns:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    print(generate(sys.argv[1], int(sys.argv[2]),
                   float(sys.argv[3]) if len(sys.argv) > 3 else 0.1))
