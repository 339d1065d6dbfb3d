"""Seeded input generator for the benchmark workloads.

Writes the ten engine tables (``region nation customer supplier part
orders lineitem events documents embeddings``) with the schemas and
value distributions of the engine's sf fixtures, using only NumPy and
PyArrow, so a run needs no fixture directory and no download.

A dataset of ``copies`` > 1 replicates one seeded base the way
``tools/scale_experiment.py`` grows a replica (more keys, not fatter
keys), so the copies do not collapse into duplicates of each other:

- ``orders``/``lineitem`` order keys shift per copy (join fan-out stays
  constant);
- ``events`` ids and user ids shift per copy (more users, same
  per-user history);
- ``documents`` ids shift and every word gets a per-copy tag, so
  documents of different copies share no shingles and the duplicate
  rate stays that of one copy;
- ``embeddings`` ids shift and components get small per-copy noise, so
  top-k has no cross-copy ties.

Offsets, tags, noise and the row order of the key-sorted fact tables
all come from the seed. Dimension tables are written once.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
FACTS = ("orders", "lineitem", "events", "documents", "embeddings")
# The id column each fact table's copies shift.
_KEY_COLUMN = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_KEY_OFF = 100_000_000
_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "D").astype("int64")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row counts of one copy at scale factor ``sf`` (the fixture ratios)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    us = rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _dims(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, np_ = rows["customer"], rows["supplier"], rows["part"]
    nat = np.arange(25, dtype="int32")
    pk = np.arange(np_, dtype="int64")
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": nat,
                "n_name": [f"NATION_{i}" for i in nat],
                "n_regionkey": nat % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(nc, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(_SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(ns, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pk,
                "p_name": np.char.add(
                    np.char.add(rng.choice(_ADJ, np_), " "), rng.choice(_NOUN, np_)
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
                "p_type": rng.choice(_PTYPES, np_),
                "p_size": rng.integers(1, 51, np_).astype("int32"),
                "p_retailprice": 900.0 + (pk % 1000) / 10.0,
            }
        ),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    """Word-salad documents; 5% are an earlier document plus ' dup'."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    vocab = np.array(_VOCAB)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    near = rng.random(n) < 0.05
    near[0] = False
    for i in np.flatnonzero(near):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return {
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _base_facts(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, dict]:
    """Column arrays of one copy, before per-copy shifting."""
    no, nl, ne = rows["orders"], rows["lineitem"], rows["events"]
    nd, nv = rows["documents"], rows["embeddings"]
    nusers = max(1, ne * 3 // 200)
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EPOCH_2024 * _DAY_US
    vec = rng.standard_normal((nv, _EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "orders": {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, rows["customer"], no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, rows["part"], nl).astype("int64"),
            "l_suppkey": rng.integers(0, rows["supplier"], nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        },
        "events": {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": rng.integers(0, nusers, ne).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        "documents": {"doc_id": np.arange(nd, dtype="int64"), **_documents(rng, nd)},
        "embeddings": {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), _EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype("int32"),
        },
    }


def _copy(
    rng: np.random.Generator, name: str, cols: dict, copy: int, shift: dict
) -> pa.Table:
    """Copy ``copy`` of a fact table: keys shifted, words tagged, vectors
    noised, with the copy's ``shift`` (the same for every table, so the
    copies of ``orders`` and ``lineitem`` still join)."""
    t = pa.table(cols)

    def put(col: str, values) -> None:
        nonlocal t
        t = t.set_column(t.schema.get_field_index(col), col, pa.array(values))

    if copy:
        key = _KEY_COLUMN[name]
        put(key, cols[key] + shift["key"])
        if name == "events":
            put("user_id", cols["user_id"] + shift["user"])
        if name == "documents":
            tag = shift["tag"]
            put("text", [" ".join(w + tag for w in s.split(" ")) for s in cols["text"]])
        if name == "embeddings":
            base = cols["embedding"].values.to_numpy().reshape(-1, _EMBED_DIM)
            noisy = base + rng.normal(0.0, 0.01, base.shape).astype("float32")
            arr = pa.FixedSizeListArray.from_arrays(
                pa.array(noisy.astype("float32").ravel()), _EMBED_DIM
            ).cast(pa.list_(pa.float32()))
            t = t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)
    if name in ("orders", "lineitem"):
        t = t.take(rng.permutation(len(t)))
    if name == "documents":
        n_chars = pc.utf8_length(t["text"]).cast(pa.int64())
        t = t.add_column(4, "n_chars", n_chars)
    return t


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict:
    """Write the seeded dataset under ``out_dir`` and return its manifest
    (rows and bytes per table).

    With ``copies`` == 1 every table is one ``<table>.parquet`` file, as
    in the engine's fixtures. With more copies every table is a
    ``<table>.parquet`` directory with one file per copy (dimensions:
    two files), so scans get several input splits.
    """
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, list[pa.Table]] = {
        name: [t] for name, t in _dims(rng, rows).items()
    }
    base = _base_facts(rng, rows)
    shifts = [{}] + [
        {
            "key": c * _KEY_OFF + int(rng.integers(0, _KEY_OFF // 2)),
            "user": c * 1_000_000 + int(rng.integers(0, 1000)),
            "tag": f"_c{c}{int(rng.integers(0, 1 << 16)):04x}",
        }
        for c in range(1, copies)
    ]
    for name in FACTS:
        tables[name] = [_copy(rng, name, base[name], c, shifts[c]) for c in range(copies)]
    manifest: dict = {"seed": seed, "sf": sf, "copies": copies, "tables": {}}
    for name in TABLES:
        parts = tables[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        if copies == 1:
            files = [path]
        else:
            if len(parts) == 1:
                half = (len(parts[0]) + 1) // 2
                parts = [parts[0].slice(0, half), parts[0].slice(half)]
            os.makedirs(path, exist_ok=True)
            files = [os.path.join(path, f"part-{i:05d}.parquet") for i in range(len(parts))]
        for part, file in zip(parts, files):
            pq.write_table(part, file)
        manifest["tables"][name] = {
            "rows": sum(len(p) for p in parts),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    manifest["bytes"] = sum(t["bytes"] for t in manifest["tables"].values())
    return manifest
