"""Seeded input generator for the benchmark.

Writes the ten catalog input tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as parquet files
with the column names and physical types of the catalog's test tables,
so every catalog entry and its DuckDB oracle run unchanged.

The seed drives everything: the base tables' values, the key offset of
each replica copy, and the row order of every written table.  A workload
may ask for ``copies`` key-shifted replicas of the relational tables:
copy ``i`` of a key domain of size ``n`` occupies
``[2*i*n + shift_i, 2*i*n + shift_i + n)`` with a seeded ``shift_i < n``,
so copies never collide and every foreign key keeps pointing into its
own copy.  :func:`check_replica` verifies
that row counts and foreign-key join counts are exactly ``copies`` times
the base's before anything is timed.

Generated inputs are cached per (spec, seed, generator source) under the
cache directory; a ``manifest.json`` written last marks a complete copy.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "bolt", "gear", "plate", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURNFLAG = ["A", "N", "R"]
_LINESTATUS = ["F", "O"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_N_LABELS = 10

# rows per parquet row group: a table of more rows is split into several
# row groups, so a scan of it can be split over the cores
ROW_GROUP_ROWS = 1 << 17

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


@dataclass(frozen=True)
class DataSpec:
    """Input shape of one workload.

    ``sf`` sizes the base relational tables like the catalog's test
    scale factors (lineitem = 6M * sf rows); ``copies`` key-shifted
    replicas of them are written.  ``docs`` and ``vectors`` size the
    corpus and embedding tables, which are never replicated."""

    sf: float
    copies: int
    docs: int
    vectors: int

    def key(self, seed: int) -> str:
        return (
            f"sf{self.sf:g}x{self.copies}-d{self.docs}-v{self.vectors}"
            f"-s{seed}"
        )


# key domains of the replicated tables: (table, key column) and, per
# referencing column, the domain it points into
_DOMAINS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
}
_FOREIGN = {
    ("orders", "o_custkey"): "customer",
    ("lineitem", "l_orderkey"): "orders",
    ("lineitem", "l_partkey"): "part",
    ("lineitem", "l_suppkey"): "supplier",
}
# events.user_id is its own (unreferenced) domain, shifted like a key
_USER_DOMAIN = "users"
# foreign-key joins verified on the replica: (child, fk, parent, pk)
FK_JOINS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _days(start: dt.date, rng: np.random.Generator, n: int, span: int):
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    return (base + rng.integers(0, span + 1, n)) * _US_PER_DAY


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)
    ]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(spec: DataSpec, rng: np.random.Generator) -> dict:
    """One copy of every table as column dicts of numpy arrays."""
    sf = spec.sf
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.asarray(_REGIONS, dtype=object),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.asarray([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": None,  # derived from the (shifted) key on write
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": None,
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": np.asarray(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object
        ),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng, n_ord, 2404),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, _RETURNFLAG, n_li),
        "l_linestatus": _pick(rng, _LINESTATUS, n_li),
        "l_shipdate": _days(dt.date(1995, 1, 2), rng, n_li, 2498),
    }
    start = (dt.datetime(2024, 1, 1) - _EPOCH).days * _US_PER_DAY
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.asarray(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object
        ),
    }
    t["documents"] = _documents(spec.docs, rng)
    t["embeddings"] = _embeddings(spec.vectors, rng)
    return t


def _documents(n: int, rng: np.random.Generator) -> dict:
    """Bag-of-words documents over a 30-word vocabulary; about 5% are
    near-duplicates (an earlier document plus a trailing ``dup`` token)
    so the dedup operators find real candidate pairs."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.asarray(texts, dtype=object),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": np.asarray([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    }


def _embeddings(n: int, rng: np.random.Generator) -> dict:
    """Unit vectors around ten weak cluster centres (label = centre)."""
    centres = rng.normal(size=(_N_LABELS, _EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, _N_LABELS, n)
    v = 0.15 * centres[labels] + rng.normal(size=(n, _EMB_DIM)) / 8.0
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": v.astype(np.float32),
        "label": labels.astype(np.int32),
    }


def replicate(base: dict, copies: int, rng: np.random.Generator) -> dict:
    """``copies`` key-shifted replicas of the relational tables."""
    sizes = {d: len(base[d][k]) for d, k in _DOMAINS.items()}
    sizes[_USER_DOMAIN] = int(base["events"]["user_id"].max()) + 1
    # copy i starts at 2*i*n plus a seeded shift below n, so copies never
    # overlap whatever the shifts
    offsets = {
        d: [2 * i * n + int(rng.integers(0, n)) for i in range(copies)]
        for d, n in sizes.items()
    }

    def shifted(table: str, col: str, domain: str) -> np.ndarray:
        v = base[table][col]
        return np.concatenate([v + off for off in offsets[domain]])

    out = {t: base[t] for t in ("region", "nation", "documents", "embeddings")}
    for table in ("customer", "supplier", "part", "orders", "lineitem", "events"):
        cols = {}
        for col, v in base[table].items():
            if _DOMAINS.get(table) == col:
                cols[col] = shifted(table, col, table)
            elif (table, col) in _FOREIGN:
                cols[col] = shifted(table, col, _FOREIGN[(table, col)])
            elif (table, col) == ("events", "user_id"):
                cols[col] = shifted(table, col, _USER_DOMAIN)
            elif v is None:
                cols[col] = None
            else:
                cols[col] = np.concatenate([v] * copies)
        out[table] = cols
    return out


def _join_count(left: np.ndarray, right: np.ndarray) -> int:
    """Rows of the equi-join ``left = right`` (duplicate keys multiply)."""
    keys, mult = np.unique(right, return_counts=True)
    pos = np.minimum(np.searchsorted(keys, left), len(keys) - 1)
    return int(mult[pos][keys[pos] == left].sum())


def _fk_counts(tables: dict) -> dict:
    """Rows per table and rows per foreign-key join."""
    counts = {t: len(next(iter(_arrays(c)))) for t, c in tables.items()}
    for child, fk, parent, pk in FK_JOINS:
        counts[f"{child}.{fk}->{parent}"] = _join_count(
            tables[child][fk], tables[parent][pk]
        )
    return counts


def _arrays(cols: dict):
    return (v for v in cols.values() if v is not None)


def check_replica(base: dict, replica: dict, copies: int) -> dict:
    """Raise unless every row count and foreign-key join count of the
    replica is exactly ``copies`` times the base's (nation and region are
    shared dimension tables, so their own counts stay the same)."""
    b, r = _fk_counts(base), _fk_counts(replica)
    shared = {"region", "nation", "documents", "embeddings",
              "nation.n_regionkey->region"}
    bad = {
        k: (b[k], r[k]) for k in b
        if r[k] != b[k] * (1 if k in shared else copies)
    }
    if bad:
        raise ValueError(f"replica count mismatch (base, replica): {bad}")
    return r


def _arrow_table(name: str, cols: dict, rng: np.random.Generator) -> pa.Table:
    n = len(next(iter(_arrays(cols))))
    order = rng.permutation(n)
    arrays, fields = [], []
    for col, v in cols.items():
        if v is None:  # c_name / s_name from the shifted key
            key = cols["c_custkey" if name == "customer" else "s_suppkey"]
            prefix = "Customer" if name == "customer" else "Supplier"
            v = np.asarray([f"{prefix}#{k:09d}" for k in key], dtype=object)
        v = v[order]
        if col in ("o_orderdate", "l_shipdate", "ts"):
            arr = pa.array(v, type=pa.int64()).cast(pa.timestamp("us"))
        elif col == "embedding":
            arr = pa.array(list(v), type=pa.list_(pa.float32()))
        elif v.dtype == object:
            arr = pa.array(v, type=pa.string())
        else:
            arr = pa.array(v)
        arrays.append(arr)
        fields.append(pa.field(col, arr.type))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def ensure_data(cache_dir: str, spec: DataSpec, seed: int) -> str:
    """Directory holding the workload's generated tables for ``seed``,
    generated on first use and reused afterwards."""
    # the generator's own source is part of the key, so an edited
    # generator never reuses inputs an older one wrote
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{spec.key(seed)}-g{version}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    base = base_tables(spec, rng)
    replica = replicate(base, spec.copies, rng)
    counts = check_replica(base, replica, spec.copies)
    for name in TABLES:
        pq.write_table(
            _arrow_table(name, replica[name], rng),
            os.path.join(path, f"{name}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )
    with open(manifest, "w") as f:
        json.dump({"spec": asdict(spec), "seed": seed, "counts": counts}, f)
    return path
