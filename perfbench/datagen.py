"""Seeded generator for the engine's input tables.

Writes the ten parquet tables that `graft.Tables` opens (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schema, parquet types and value distributions of
the project's seed-42 test data: independent uniform draws over the
TPC-H-like key spaces, an `events` stream sorted by time, a 30-word
document vocabulary with about 5% near-duplicate documents, and unit
64-dimensional float embeddings. The same (seed, sf) always gives the
same files.

`replicate` builds the N-times key-shifted copy of the TPC-H tables
(the construction `graft.Bench` uses for its 10x axis) and `check_copy`
verifies it by its properties.
"""
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, sf):
    """Write all ten tables for scale factor `sf` into directory `out`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    nk = np.arange(25, dtype=np.int32)
    _write(out, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {b}" for a in adj for b in noun], dtype=object)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], pa.string()),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)],
                                     dtype=object)[rng.integers(0, 25, n_part)],
                            pa.string()),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(ORDER_EPOCH + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, n_line)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n_line)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(SHIP_EPOCH + rng.integers(0, 2498, n_line) * DAY_US)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EVENT_EPOCH + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_docs)]
    # about 5% of documents repeat an earlier one with a marker word, the
    # near-duplicates the dedup and pair kernels look for
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_docs,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32))})


def key_offset(src):
    """One shared offset above every key of every table, so the copies
    keep referential integrity and their key ranges never overlap."""
    con = duckdb.connect()
    top = max(con.execute(f"SELECT max({k}) FROM '{src}/{t}.parquet'").fetchone()[0]
              for t, keys in TPCH_KEYS.items() for k in keys)
    offset = 10
    while offset <= top:
        offset *= 10
    return offset


def replicate(src, out, copies, offset):
    """Write `copies` key-shifted copies of the TPC-H tables of `src`
    into `out`; every key column of copy c is shifted by c * offset."""
    con = duckdb.connect()
    os.makedirs(out, exist_ok=True)
    for t, keys in TPCH_KEYS.items():
        cols = [c for c in con.execute(f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'")
                .fetchall()]
        sel = ", ".join(
            f"CAST({name} + c * {offset} AS {typ}) AS {name}" if name in keys else name
            for name, typ, *_ in cols)
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}/{t}.parquet', range({copies}) r(c)) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")


def check_copy(src, out, copies, offset):
    """Each table of the copy has exactly `copies` times the source rows,
    and on every key column copy c holds exactly the source keys shifted
    by c * offset, so the copies' key ranges are disjoint."""
    con = duckdb.connect()
    for t, keys in TPCH_KEYS.items():
        n_src = con.execute(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n_out = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        if n_out != copies * n_src:
            raise ValueError(f"{t}: {n_out} rows, expected {copies} x {n_src}")
        for k in keys:
            lo, hi = con.execute(f"SELECT min({k}), max({k}) FROM '{src}/{t}.parquet'").fetchone()
            per_copy = con.execute(
                f"SELECT {k} // {offset} AS c, min({k}) - c * {offset}, "
                f"max({k}) - c * {offset}, count(*) FROM '{out}/{t}.parquet' "
                f"GROUP BY c ORDER BY c").fetchall()
            want = [(c, lo, hi, n_src) for c in range(copies)]
            if per_copy != want:
                raise ValueError(f"{t}.{k}: copies are not disjoint shifted ranges")


def ensure(path, build):
    """Build a data directory once: `build(tmp)` fills a temporary
    sibling that is renamed into place only when complete, so a run
    never reads a half-written directory."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    return path
