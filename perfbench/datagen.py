"""Deterministic TPC-H-shaped tables and a document corpus for the benchmark.

The benchmark must not depend on data outside its checkout, so it writes its
own copy of the star schema the ``tpch`` demo cube reads (region, nation,
customer, supplier, part, orders, lineitem) plus ``documents`` for the ingest
workload.  Column names, types and value domains follow the TPC-H-ish test
tables the engine's suite uses; row counts scale with ``sf`` (sf=0.1 gives
600,000 lineitem rows and 5,000 documents).  The same ``(sf, data_seed)``
always writes the same bytes, so every checkout measures the same data.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: bump when the generated data changes, so cached copies are not reused
DATA_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
N_BRANDS = 25
ADJECTIVES = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
NOUNS = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "widget"]
FIRST_DAY = dt.date(1995, 1, 1)
LAST_DAY = dt.date(2001, 8, 1)
#: document vocabulary: 'a' and 'the' are stopwords for the quality rules
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def nation_region(n: int) -> str:
    return REGIONS[n % len(REGIONS)]


def random_text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens))


def _days(rng, n):
    span = (LAST_DAY - FIRST_DAY).days
    base = np.datetime64(FIRST_DAY.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, N_BRANDS + 1)])[
            rng.integers(0, N_BRANDS, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line), pa.timestamp("us")),
    })
    texts = [random_text(rng, int(k)) for k in rng.integers(8, 100, n_docs)]
    # a few exact duplicates inside the corpus, as real crawls have
    for i in range(0, n_docs, 613):
        texts[i] = texts[(i * 7 + 1) % n_docs]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return out


def ensure(root: str, sf: float) -> str:
    """Return ``root/sf<sf>-v<version>``, writing the tables there first if
    they are not there yet.  The directory appears atomically (written
    under a temporary name, then renamed), so concurrent or interrupted
    runs never see half a data set."""
    final = os.path.join(root, f"sf{sf}-v{DATA_VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=root)
    try:
        for name, table in tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
