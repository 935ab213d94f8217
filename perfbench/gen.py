"""Seeded input generator for the benchmark workloads.

Writes the ten tables the engine reads (``sources/catalog.TABLES``) as one
single-row-group parquet file each, the layout of the reference testdata,
so that ``sources/parallel.dedup_floor`` takes the same path it takes
there. Column names, types and value domains mirror the sf0.1 testdata
(TPC-H-shaped dimensions, a 30-word document vocabulary with planted
``dup`` near-duplicates, unit-norm 64-d embeddings, a 30-day event log).

Everything is a pure function of ``(shape, seed)``: the same seed gives
byte-identical files, another seed gives different files of the same
sizes. ``generate`` checks its own output before returning (key bounds
that keep ``domain_views.annotations.annot_id`` unique, the hot-tile
property of the workload) and returns a manifest of what it wrote.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# operators/merge.SPLIT_THRESHOLD; repeated here so the generator runs
# without importing pyspark (checked equal in perfbench/tests).
SPLIT_THRESHOLD = 4096

# annot_id radices (sources/domain_views.annotations)
PARTKEY_BOUND = 100_000
SUPPKEY_BOUND = 10_000
LINENUMBER_BOUND = 10

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

_EPOCH_DAY = np.datetime64("1970-01-01", "D")


@dataclass(frozen=True)
class Shape:
    """Table sizes for one workload."""

    tiles: int = 20_000  # part rows
    annotations: int = 600_000  # lineitem rows
    orders: int = 150_000
    customers: int = 15_000
    suppliers: int = 1_000
    events: int = 100_000
    documents: int = 5_000
    embeddings: int = 2_000
    hot_tiles: int = 0  # "tank-farm" tiles past SPLIT_THRESHOLD
    hot_rows: int = 0  # annotations re-keyed onto each hot tile


SHAPES = {
    "inventory": Shape(tiles=2_500, annotations=40_000, orders=12_000, customers=3_000,
                       events=5_000, documents=2_000, embeddings=1_000,
                       hot_tiles=1, hot_rows=SPLIT_THRESHOLD + 304),
    "analytics": Shape(tiles=1_500, annotations=20_000, orders=6_000,
                       customers=2_000, events=10_000, documents=1_000, embeddings=500),
}


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(int)
    d = rng.integers(a, b + 1, n)
    return (d.astype("datetime64[D]")).astype("datetime64[us]")


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out: str, name: str, cols: dict) -> int:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=max(t.num_rows, 1))
    return t.num_rows


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    """Base corpus: random 10-100-word texts; 5 % are a copy of an earlier
    document with the marker word ``dup`` inserted (near-duplicates), and a
    few are verbatim copies (exact duplicates)."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    src = rng.permutation(n)
    n_near, n_exact = n // 20, max(n // 600, 1)
    for i, j in zip(src[:n_near], rng.integers(0, n, n_near)):
        if i == j:
            continue
        w = list(words[j])
        w.insert(int(rng.integers(0, len(w) + 1)), "dup")
        words[i] = w
    for i, j in zip(src[n_near:n_near + n_exact], rng.integers(0, n, n_exact)):
        words[i] = list(words[j])
    return [" ".join(w) for w in words], rng.choice(LANGS, n, p=LANG_P)


def generate(out: str, workload: str, seed: int, shape: Shape | None = None) -> dict:
    """Write the workload's tables under ``out`` and return the manifest."""
    s = shape or SHAPES[workload]
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    os.makedirs(out, exist_ok=True)
    rows: dict[str, int] = {}

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    rows["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _cents(rng, s.customers, -999.99, 9999.99),
        "c_mktsegment": rng.choice(segs, s.customers),
    })
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _cents(rng, s.suppliers, -999.99, 9999.99),
    })
    adj = np.array("large hot blue red new small cold big".split())
    noun = np.array("ring bolt anvil rod plate gear nut pipe".split())
    pk = np.arange(s.tiles)
    rows["part"] = _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, s.tiles), " "), rng.choice(noun, s.tiles)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.tiles).astype(str)),
        "p_type": rng.choice(np.array("LARGE MEDIUM ECONOMY PROMO SMALL STANDARD".split()), s.tiles),
        "p_size": pa.array(rng.integers(1, 51, s.tiles), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), s.orders),
        "o_totalprice": _cents(rng, s.orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), s.orders),
    })

    # lineitem: (orderkey, linenumber) unique, 1-7 lines per order,
    # truncated to the requested row count, rows shuffled.
    per = rng.integers(1, 8, s.orders)
    ok = np.repeat(np.arange(s.orders), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per])
    if len(ok) < s.annotations:
        raise ValueError(f"{s.orders} orders give {len(ok)} lines < {s.annotations}")
    keep = np.sort(rng.choice(len(ok), s.annotations, replace=False))
    ok, ln = ok[keep], ln[keep]
    n = s.annotations
    partkey = rng.integers(0, s.tiles, n)
    hot_keys = np.sort(rng.choice(s.tiles, s.hot_tiles, replace=False)) if s.hot_tiles else np.array([], int)
    if s.hot_tiles:
        rekey = rng.choice(n, s.hot_tiles * s.hot_rows, replace=False)
        partkey[rekey] = np.repeat(hot_keys, s.hot_rows)
    order = rng.permutation(n)
    li = {
        "l_orderkey": ok[order], "l_partkey": partkey[order],
        "l_suppkey": rng.integers(0, s.suppliers, n), "l_linenumber": ln[order],
    }
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _cents(rng, n, 900.0, 104999.99),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["N", "R", "A"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })

    gaps = rng.exponential(26.0, s.events)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + 11_000_000
    ts_us = np.minimum(ts_us, 30 * 86400 * 10**6 - 1)
    rows["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(s.events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, s.events), pa.int64()),
        "event_type": rng.choice(np.array(["signup", "purchase", "view", "click", "error"]), s.events),
        "value": np.round(rng.exponential(50.0, s.events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })

    texts, langs = _documents(rng, s.documents)
    ids = np.arange(s.documents)
    rows["documents"] = _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((s.embeddings, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })

    counts = np.bincount(partkey, minlength=s.tiles)
    manifest = {
        "workload": workload,
        "seed": seed,
        "shape": asdict(s),
        "rows": rows,
        "max_key": {
            "l_partkey": int(partkey.max()),
            "l_suppkey": int(li["l_suppkey"].max()),
            "l_linenumber": int(ln.max()),
        },
        "tiles_over_split_threshold": int((counts > SPLIT_THRESHOLD).sum()),
        "max_annotations_per_tile": int(counts.max()),
        "hot_tile_share": round(float(counts[hot_keys].sum()) / n, 6) if s.hot_tiles else 0.0,
        "documents": rows["documents"],
        "files": sorted(f for f in os.listdir(out) if f.endswith(".parquet")),
    }
    check_manifest(manifest, out)
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def check_manifest(m: dict, out: str) -> None:
    """Raise if the generated inputs break a property a workload relies on."""
    mk = m["max_key"]
    if not (mk["l_partkey"] < PARTKEY_BOUND and mk["l_suppkey"] < SUPPKEY_BOUND
            and mk["l_linenumber"] < LINENUMBER_BOUND):
        raise ValueError(f"annot_id radices exceeded: {mk}")
    hot = m["tiles_over_split_threshold"]
    if m["shape"]["hot_tiles"] and hot < 1:
        raise ValueError("workload needs a tile past SPLIT_THRESHOLD; none generated")
    if not m["shape"]["hot_tiles"] and hot:
        raise ValueError(f"{hot} tiles past SPLIT_THRESHOLD in a workload that must have none")
    for f in m["files"]:
        rg = pq.ParquetFile(os.path.join(out, f)).metadata.num_row_groups
        if rg != 1:
            raise ValueError(f"{f} has {rg} row groups; the testdata layout has one")
