"""Seeded corpus generator for the benchmark.

Writes the ten corpus tables the package reads (``getdbt_spark.io.TABLES``)
with the same column names and parquet types as the reference test corpus.
Sizes are fixed (``SIZES``, the reference corpus at sf0.01); ``seed`` only
changes values, so two runs with different seeds do the same amount of work
and two runs with the same seed read identical rows.

Usage: python3 perfbench/corpus.py OUT_DIR [--seed N]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the reference corpus at sf0.01, which every workload reads.
SIZES: dict[str, int] = dict(customer=1_500, supplier=100, part=2_000,
                             orders=15_000, lineitem=60_000, events=10_000,
                             documents=500, embeddings=500)
EMB_DIM = 64
# Events cover 30 whole days, the span of the reference corpus.
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_WORDS = ("large small hot cold blue red old new".split(),
              "ring bolt plate nut gear pipe wire frame".split())
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64), pa.int64())


def _ts(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype="datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup texts with the reference corpus's duplicate structure: about
    5% are an earlier text plus the word ``dup`` and a few are exact copies."""
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, n)]
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 1000), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": _i64(np.arange(n)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": _i64([len(t) for t in texts]),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around one centre per label."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _i64(np.arange(n)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": _i32(labels),
    })


def tables(seed: int, n: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    """Build every corpus table in memory with ``n`` rows per table."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": _i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": _i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": _i32(np.arange(25) % 5),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": _i64(np.arange(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": _i32(rng.integers(0, 25, nc)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _i64(np.arange(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": _i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj, noun = PART_WORDS
    out["part"] = pa.table({
        "p_partkey": _i64(np.arange(npart)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            rng.integers(0, 8, (npart, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": _i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) * 0.1, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _i64(np.arange(no)),
        "o_custkey": _i64(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_days(rng, "1995-01-01", 2404, no)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    flags = rng.choice(3, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": _i64(rng.integers(0, no, nl)),
        "l_partkey": _i64(rng.integers(0, npart, nl)),
        "l_suppkey": _i64(rng.integers(0, ns, nl)),
        "l_linenumber": _i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flags]),
        "l_linestatus": pa.array(np.where(flags == 1, "O", "F").astype(object)),
        "l_shipdate": _ts(_days(rng, "1995-01-02", 2498, nl)),
    })
    ne = n["events"]
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table({
        "event_id": _i64(np.arange(ne)),
        "ts": _ts(EVENT_START + offsets.astype("timedelta64[us]")),
        "user_id": _i64(rng.integers(0, 1500, ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        # Multiples of 1/64: sums of these are exact in binary floating
        # point, so Spark and the DuckDB oracle agree whatever order they
        # add them in.  With 2-decimal values the two engines' sums differ
        # in the last bit, and a weekly total that lands on a .xx5 boundary
        # rounds to different cents.
        "value": np.round(rng.exponential(50.0, ne) * 64.0) / 64.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, seed: int, n: dict[str, int] = SIZES) -> str:
    """Write the corpus as ``OUT_DIR/<table>.parquet`` and return OUT_DIR."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, n).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    write(a.out_dir, a.seed)


if __name__ == "__main__":
    main()
