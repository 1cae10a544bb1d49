"""Seeded input generator for the benchmark.

Reproduces the table recipe of ``tools/make_second_decade_fixture.py``
(row counts, key laws and value laws per table), with three differences.
Every table's RNG is ``numpy.random.default_rng(seed)`` instead of a
fixed 42, so each ``--seed`` gives a different dataset of the same shape
and the same seed always gives the same bytes. The document count is
floored at 500 and the embedding count is rounded, not truncated, both as
in the shared test fixtures (500 each at sf0.01, where the recipe's
truncation gives 499 embeddings). ``nation`` and ``region`` are
scale-constant; their rows (25 and 5) are those of the shared test
fixtures, written from the constants below.

The tables are those ``tests/parity.py`` gives the oracle, so the
repository root must be on ``sys.path``.

The dataset directory is ``<root>/bench_s<seed>_sf<scale>``. The basename
must never equal a shared fixture's basename such as ``sf0.1``:
``catalog._stage_events_us`` and ``streaming.runtime.stage_events_dir``
key their staged copies under the temp dir by basename alone, so a
colliding name silently reads another dataset's events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.parity import TABLES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: the fixture's fixed 31-word document vocabulary (all langs share it)
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

US_PER_DAY = 86_400 * 1_000_000


def dataset_tag(seed: int, sf: float) -> str:
    """Basename of a generated dataset; never a shared fixture's name."""
    return f"bench_s{seed}_sf{sf:g}"


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    d0 = np.datetime64(start, "us").astype("int64")
    return pa.array(
        (d0 + rng.integers(0, span_days, n) * US_PER_DAY).astype("datetime64[us]")
    )


def _padded(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array(np.char.add(prefix, np.char.zfill(keys.astype("U9"), 9)))


def gen_region(seed: int, sf: float) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })


def gen_nation(seed: int, sf: float) -> pa.Table:
    keys = np.arange(25, dtype="int32")
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5),
    })


def gen_events(seed: int, sf: float) -> pa.Table:
    n = int(sf * 1_000_000)
    rng = np.random.default_rng(seed)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = ts0 + rng.integers(0, 30 * US_PER_DAY, n)
    types = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(sf * 15_000), n, dtype="int64")),
        "event_type": pa.array(types[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.abs(rng.normal(0, 62.3, n)), 2)),
        "props": pa.array(np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n).astype("U3")), "}"
        )),
    })


def gen_customer(seed: int, sf: float) -> pa.Table:
    n = int(sf * 150_000)
    rng = np.random.default_rng(seed)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": _padded("Customer#", keys),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-1_000, 10_000, n), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n)]),
    })


def gen_lineitem(seed: int, sf: float) -> pa.Table:
    n = int(sf * 6_000_000)
    rng = np.random.default_rng(seed)
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(sf * 1_500_000), n, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, int(sf * 200_000), n, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, int(sf * 10_000), n, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype="int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, "1995-01-01", 2500, n),
    })


def gen_documents(seed: int, sf: float) -> pa.Table:
    """Bag-of-words docs over the fixed vocabulary; ~5% are a near-dup
    of an earlier doc with k words appended (the fixture's law). The
    fixture floors the corpus at 500 docs."""
    n = max(500, int(sf * 50_000))
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    langs = np.array(["en", "zh", "es", "de", "fr"])
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    texts: list[str] = []
    words: list[list[str]] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.051:
            k = rng.choice(4, p=[0.031, 0.949, 0.016, 0.004])
            w = list(words[rng.integers(0, i)]) + [
                str(v) for v in vocab[rng.integers(0, len(vocab), k)]
            ]
        else:
            w = [str(v) for v in vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]]
        words.append(w)
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, n, p=lang_p)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype("U2"))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def gen_embeddings(seed: int, sf: float) -> pa.Table:
    """Unit-norm 64-dim vectors, 10 uniform labels; count grows x4 per
    decade of scale (500 at sf0.01, 2000 at sf0.1)."""
    n = int(round(8000 * sf ** 0.60206))
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype="int32")),
    })


def gen_orders(seed: int, sf: float) -> pa.Table:
    n = int(sf * 1_500_000)
    rng = np.random.default_rng(seed)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, int(sf * 150_000), n, dtype="int64")),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n)]),
    })


def gen_part(seed: int, sf: float) -> pa.Table:
    n = int(sf * 200_000)
    rng = np.random.default_rng(seed)
    adjs = np.array(["new", "red", "blue", "old", "small", "cold", "large", "hot"])
    nouns = np.array(["widget", "anvil", "gizmo", "bolt", "plate", "rod", "ring", "gear"])
    types = np.array(["LARGE", "STANDARD", "SMALL", "ECONOMY", "PROMO", "MEDIUM"])
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.char.add(
            np.char.add(adjs[rng.integers(0, 8, n)], " "), nouns[rng.integers(0, 8, n)]
        )),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype("U2"))),
        "p_type": pa.array(types[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n, dtype="int32")),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def gen_supplier(seed: int, sf: float) -> pa.Table:
    n = int(sf * 10_000)
    rng = np.random.default_rng(seed)
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "s_suppkey": pa.array(keys),
        "s_name": _padded("Supplier#", keys),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-1_000, 10_000, n), 2)),
    })


def generate(root: str, seed: int, sf: float) -> str:
    """Write every table for (seed, sf) under ``root`` and return the
    dataset directory. Rewrites from scratch, so the bytes depend only
    on (seed, sf)."""
    out_dir = os.path.join(root, dataset_tag(seed, sf))
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tbl = globals()[f"gen_{name}"](seed, sf)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir

