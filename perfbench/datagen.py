"""Deterministic benchmark inputs.

The base tables have the schema and value domains of the engine's
TPC-H-shaped test tables (region, nation, customer, supplier, part,
orders, lineitem) plus the near-duplicate text corpus (documents) and its
embedding table. They are generated from a fixed base seed at a stated
scale factor and cached under ``perfbench/_cache``; the workload seed only
permutes row order (``seeded_tables``) and builds the seeded
``prism.sqlite3`` the ETL workload serves (``prism_zip``).
"""

from __future__ import annotations

import shutil
import sqlite3
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
GENERATOR_VERSION = "1"  # bump when the generated values change
FLAGSHIP_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _days(rng, n, start, end) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _text_corpus(rng, n_docs: int) -> list[str]:
    """Random word sequences; about one doc in twenty is a light edit of
    an earlier one, so the near-duplicate pair substrates are non-empty."""
    words = np.array(_WORDS)
    docs: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            toks = docs[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        docs.append(" ".join(toks))
    return docs


def base_tables(sf: float) -> dict[str, pa.Table]:
    """Every base table at scale factor ``sf`` (sf 1 = 6 M lineitem rows)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04")),
    })
    docs = _text_corpus(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    near = np.flatnonzero(rng.random(n_vec) < 0.05)
    near = near[near > 0]
    src = rng.integers(0, near, len(near))  # a strictly earlier vector
    vecs[near] = vecs[src] + 0.02 * rng.standard_normal((len(near), 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return t


def _write_dir(tables: dict[str, pa.Table], out: Path) -> None:
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables.items():
        pq.write_table(table, tmp / f"{name}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def seeded_tables(cache: Path, scales: dict[str, float], seed: int) -> Path:
    """Directory of the tables in ``scales`` (name -> scale factor), each
    table's rows in a seed-permuted order: the same rows, so every query
    result is unchanged."""
    spec = "-".join(f"{name}{sf}" for name, sf in sorted(scales.items()))
    out = cache / f"tables-v{GENERATOR_VERSION}-{spec}-seed{seed}"
    if (out / "_DONE").exists():
        return out
    rng = np.random.default_rng(seed)
    base = {sf: base_tables(sf) for sf in set(scales.values())}
    perm = {}
    for name, sf in sorted(scales.items()):
        table = base[sf][name]
        perm[name] = table.take(rng.permutation(table.num_rows))
    _write_dir(perm, out)
    (out / "_DONE").write_text("")
    return out


_SQLITE_TYPES = {
    pa.int32(): "INTEGER",
    pa.int64(): "INTEGER",
    pa.float64(): "DOUBLE",
    pa.string(): "TEXT",
    pa.timestamp("us"): "DATETIME",
}


def _sqlite_rows(table: pa.Table):
    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type):
            col = col.cast(pa.string())  # "YYYY-MM-DD HH:MM:SS", DATETIME as text
        cols.append(col.to_pylist())
    return zip(*cols)


def prism_zip(cache: Path, tables_dir: Path, seed: int) -> Path:
    """``prism.zip`` holding ``prism.sqlite3`` built from the seeded
    flagship parquet tables: the artifact the reference's converter
    produces, in the row order the seed fixed."""
    out = cache / f"prism-seed{seed}-{tables_dir.name}.zip"
    if out.exists():
        return out
    db = cache / f"prism-{seed}.sqlite3.tmp"
    db.unlink(missing_ok=True)
    with sqlite3.connect(db) as conn:
        for name in FLAGSHIP_TABLES:
            table = pq.read_table(tables_dir / f"{name}.parquet")
            decl = ", ".join(f'"{f.name}" {_SQLITE_TYPES[f.type]}' for f in table.schema)
            conn.execute(f'CREATE TABLE "{name}" ({decl})')
            marks = ", ".join("?" * table.num_columns)
            conn.executemany(f'INSERT INTO "{name}" VALUES ({marks})', _sqlite_rows(table))
        conn.execute("ANALYZE")
    tmp = out.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.write(db, "prism.sqlite3")
    db.unlink()
    tmp.rename(out)
    return out
