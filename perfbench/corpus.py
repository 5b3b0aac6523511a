"""Seeded benchmark corpus: the engine's ten catalog tables, written as
multi-file parquet directories under one root.

The corpus is built in two steps so that every seed yields the same
structure and timings stay comparable across seeds:

1. A fixed *base* corpus (``BASE_SEED``) with the schema and value
   distributions of the engine's sf0.1 test tables, scaled by ``scale``
   (1.0 = sf0.1 row counts): uniform keys, 1-7 line items per order,
   10-100-word documents with 5% near-duplicates (a copy plus one word),
   unit-norm 64-d embeddings, and a time-ordered event stream.
2. A seeded *isomorphic* transform, the scheme of
   ``scripts/scale_probe.py:build_scaled``:

   - key offsets: every key column in ``KEYS`` gets ``offset + replica * KEY_STRIDE``
     so foreign keys stay consistent and cardinalities are unchanged;
   - word salts: every word of replica ``i`` gets a seed-chosen
     lowercase suffix, distinct per replica, so replicas never share a
     token and token statistics keep the base's shape;
   - embedding sign flips: one seed-chosen +-1 per dimension, an
     orthogonal map that keeps every pairwise cosine bit-identical;
   - row order: a seed-chosen permutation per table;
   - files: each table is split into ``n_files`` parquet part files.

``replicas`` > 1 makes the blow-up: customer, supplier, part, orders,
lineitem and documents are repeated with disjoint keys and salts, so
every replica's line items point at that replica's parts and suppliers;
region, nation and the graph/curation inputs keep one copy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
KEY_STRIDE = 10_000_000  # above any base key; keeps every key < 2**31
SF01_ROWS = {  # sf0.1 row counts
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}
REPLICATED = ("customer", "supplier", "part", "orders", "lineitem", "documents")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SALT_LETTERS = list("bcdfghjklmnpqrtvwxz")  # no 's': grep matches stay put
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale: float) -> dict[str, dict[str, np.ndarray]]:
    """The fixed base corpus as column arrays (keys start at 0)."""
    rng = np.random.default_rng(BASE_SEED)
    n = {k: max(int(v * scale), 10) for k, v in SF01_ROWS.items()}
    t: dict[str, dict[str, np.ndarray]] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    adj = np.array("large hot blue old cold red small green".split())
    noun = np.array("ring bolt plate gear widget rod anvil nut".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "), noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    no = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * np.timedelta64(1, "D")
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": odate,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    }
    per_order = np.clip(rng.binomial(12, 1 / 3, no), 1, 7)
    nl = int(per_order.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": odate[okey] + rng.integers(1, 122, nl) * np.timedelta64(1, "D"),
    }
    ne = n["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    words = [list(rng.integers(0, len(VOCAB), m)) for m in lengths]
    # 5% near-duplicates: an earlier document plus one extra word
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        words[i] = words[int(rng.integers(0, i))] + [len(VOCAB)]
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "words": words,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
    }
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": vec,
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return t


# key columns that get the seeded offset (FK-consistent per domain)
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # not vec_id: the recall sample orders embeddings by md5(vec_id), so
    # an offset would change which IVF cells it probes, and the work
}


def _salts(rng, k: int) -> list[str]:
    out: list[str] = []
    while len(out) < k:
        s = "".join(rng.choice(SALT_LETTERS, 3))
        if s not in out:
            out.append(s)
    return out


def _replica(cols, table: str, i: int, offset: int, salt: str):
    cols = dict(cols)
    for c in KEYS.get(table, ()):
        cols[c] = cols[c] + (offset + i * KEY_STRIDE)
    if table == "documents":
        vocab = [w + salt for w in VOCAB + ["dup"]]
        text = np.array([" ".join(vocab[w] for w in ws) for ws in cols.pop("words")])
        cols["text"] = text
        cols["n_chars"] = np.char.str_len(text).astype(np.int64)
    return cols


def _arrow(cols) -> pa.Table:
    arrays = {}
    for name, a in cols.items():
        if isinstance(a, np.ndarray) and a.ndim == 2:  # embeddings
            arrays[name] = pa.array(list(a), type=pa.list_(pa.float32()))
        else:
            arrays[name] = pa.array(a)
    return pa.table(arrays)


def write_corpus(root: str, seed: int, scale: float, replicas: int = 1, n_files: int = 4) -> dict[str, int]:
    """Write the seeded corpus under ``root``; returns rows per table."""
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(1, 200)) * 1_000_000
    salts = _salts(rng, replicas)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), 64)
    rows: dict[str, int] = {}
    for table, cols in base_tables(scale).items():
        reps = replicas if table in REPLICATED else 1
        parts = [_arrow(_replica(cols, table, i, offset, salts[i])) for i in range(reps)]
        tbl = pa.concat_tables(parts)
        if table == "embeddings":
            flipped = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)) * signs
            tbl = tbl.set_column(1, "embedding", pa.array(list(flipped), type=pa.list_(pa.float32())))
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        out = os.path.join(root, f"{table}.parquet")
        os.makedirs(out)
        k = n_files if tbl.num_rows >= 1000 else 1
        bounds = np.linspace(0, tbl.num_rows, k + 1).astype(int)
        for j in range(k):
            piece = tbl.slice(bounds[j], bounds[j + 1] - bounds[j])
            pq.write_table(piece, os.path.join(out, f"part-{j:05d}.parquet"))
        rows[table] = tbl.num_rows
    return rows
