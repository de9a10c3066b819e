"""Seeded synthetic inputs for the benchmark.

Every table has the schema of the star-schema fixtures the program is
built for (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings).  Values are drawn from ``numpy``'s
PCG64 generator seeded with the workload seed, so the same seed always
writes byte-identical parquet files.  Table sizes depend only on the
scale factor, never on the seed, so numbers from different seeds
compare.

The data carries the violations the integrity kernels exist to find:
``(l_orderkey, l_linenumber)`` repeats (about a fifth of lineitem, as in
the fixtures), a few orders whose customer does not exist, and a few
lineitems with a negative quantity.

Two layouts are written:

- :func:`write_sweep_dir` -- one ``<table>.parquet`` file per table, the
  layout the query registry reads;
- :func:`write_small_fleet` -- a directory of databases, each a seeded
  choice of a foreign-key-closed table set, each table a directory of
  a seeded number of part files (the scheduler's catalog layout).

Each layout gets a ``manifest.json`` with its databases, tables, files,
bytes and rows.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_NAMES = (
    ["small", "red", "blue", "hot", "big", "green"],
    ["ring", "widget", "bolt", "gear", "nut", "spring"],
)
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "es", "fr", "zh"]
_EMBED_DIM = 64
_DAY_US = 86_400_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per (seed, table): changing how one
    table is drawn never shifts another table's values."""
    return np.random.Generator(np.random.PCG64([seed, TABLES.index(table)]))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_since(start: str, rng: np.random.Generator, span_days: int, n: int):
    base = np.datetime64(start, "us").astype("int64")
    days = rng.integers(0, span_days, n)
    return pa.array(base + days * _DAY_US, pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem ~ 6,000,000 * sf)."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(r.choice(_SEGMENTS, n_cust)),
    })

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    adj = r.choice(_PART_NAMES[0], n_part)
    noun = r.choice(_PART_NAMES[1], n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": list(r.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    r = _rng(seed, "orders")
    custkey = r.integers(0, n_cust, n_ord)
    orphans = r.choice(n_ord, max(1, n_ord // 1000), replace=False)
    custkey[orphans] = n_cust + orphans  # customers that do not exist
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(custkey, pa.int64()),
        "o_orderstatus": list(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_since("1995-01-01", r, 2404, n_ord),
        "o_orderpriority": list(r.choice(_PRIORITIES, n_ord)),
    })

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype("float64")
    bad = r.choice(n_line, max(1, n_line // 2000), replace=False)
    qty[bad] = -qty[bad]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(r, 900.0, 100000.0, n_line),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": list(r.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(r.choice(["F", "O"], n_line)),
        "l_shipdate": _days_since("1995-01-02", r, 2404, n_line),
    })

    r = _rng(seed, "events")
    base = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(base + r.integers(0, 30 * _DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": list(r.choice(_EVENT_TYPES, n_evt)),
        "value": np.round(r.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    })

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            # near-duplicate of an earlier document: one word dropped
            words = texts[int(r.integers(0, i))].split()
            if words[-1] == "dup":
                words = words[:-1]
            if len(words) > 10:
                del words[int(r.integers(0, len(words)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(r.integers(10, 100))
            texts.append(" ".join(r.choice(_WORDS, n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(r.choice(_LANGS, n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = _rng(seed, "embeddings")
    vecs = (r.standard_normal((n_vecs, _EMBED_DIM)) * 0.13).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def _write_manifest(root: str, manifest: dict) -> None:
    tmp = os.path.join(root, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root, "manifest.json"))


def _read_manifest(root: str) -> dict | None:
    try:
        with open(os.path.join(root, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _file_entry(path: str, rows: int) -> dict:
    return {"path": path, "bytes": os.path.getsize(path), "rows": rows}


def write_sweep_dir(root: str, seed: int, sf: float) -> dict:
    """One ``<table>.parquet`` per table under ``root``; returns the
    manifest.  Reuses an existing layout written for the same (seed, sf)."""
    found = _read_manifest(root)
    if found and found.get("seed") == seed and found.get("sf") == sf:
        return found
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    tables = make_tables(seed, sf)
    entries = {}
    for name, table in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        entries[name] = {"files": [_file_entry(path, table.num_rows)]}
    manifest = {"seed": seed, "sf": sf, "databases": {"sweep": entries}}
    _write_manifest(root, manifest)
    return manifest


# Table sets of the small databases: region, nation and one child of
# nation, so each database gives two EXTENDED_LOGICAL_CHECKS probes and
# costs about the same whatever the seed draws.
SMALL_DB_TABLES = (("region", "nation", "customer"), ("region", "nation", "supplier"))


def write_small_fleet(
    root: str, seed: int, sf: float, n_databases: int, max_files: int
) -> dict:
    """A fleet of ``n_databases`` databases under ``root``.

    Database ``db_<k>`` holds one table set of :data:`SMALL_DB_TABLES`,
    drawn by the seed; each table is split into 1..``max_files`` part
    files, the split also drawn by the seed.  The fleet shape
    (databases, tables per database) never depends on the seed.
    Returns the manifest.
    """
    shape = [seed, sf, n_databases, max_files]
    found = _read_manifest(root)
    if found and found.get("shape") == shape:
        return found
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    tables = make_tables(seed, sf)
    pick = np.random.Generator(np.random.PCG64([seed, 1000]))
    dbs: dict[str, dict] = {}
    for k in range(n_databases):
        db = f"db_{k + 1:02d}"
        entries = {}
        for name in SMALL_DB_TABLES[int(pick.integers(len(SMALL_DB_TABLES)))]:
            table = tables[name]
            n_files = int(pick.integers(1, max_files + 1))
            tdir = os.path.join(root, db, name)
            os.makedirs(tdir)
            bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
            files = []
            for i in range(n_files):
                part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
                path = os.path.join(tdir, f"part-{i:05d}.parquet")
                pq.write_table(part, path)
                files.append(_file_entry(path, part.num_rows))
            entries[name] = {"files": files}
        dbs[db] = entries
    manifest = {"seed": seed, "sf": sf, "shape": shape, "databases": dbs}
    _write_manifest(root, manifest)
    return manifest


def manifest_summary(manifest: dict) -> dict:
    """Databases, tables, files, bytes and rows of one layout."""
    dbs = manifest["databases"]
    files = [f for tables in dbs.values() for t in tables.values() for f in t["files"]]
    return {
        "databases": len(dbs),
        "tables": sum(len(t) for t in dbs.values()),
        "files": len(files),
        "bytes": sum(f["bytes"] for f in files),
        "rows": sum(f["rows"] for f in files),
    }
