"""Deterministic TPC-H-shaped corpus for the benchmark.

The tables carry the same names, columns and types as the engine's
testdata tables (`dremio_oss_spark.catalog.TESTDATA_TABLES`), so every
TPC-H text in `dremio_oss_spark/queries/tpch.py` runs on them unchanged.
Foreign keys are consistent: every `l_orderkey` is an order, every
`o_custkey` a customer, every `l_partkey` a part, and so on.

The corpus is built once per (scale, seed, GENERATOR_VERSION) and cached
under the benchmark's work directory; `digest()` re-reads the parquet
footers so each run records exactly which bytes it queried.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated values change, so stale caches rebuild
GENERATOR_VERSION = 1

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

_EPOCH = dt.date(1970, 1, 1)
_FIRST_ORDER_DAY = (dt.date(1995, 1, 1) - _EPOCH).days
_LAST_ORDER_DAY = (dt.date(2001, 8, 1) - _EPOCH).days


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All seven tables at scale factor `sf` (sf=1 is 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    nation = pa.table({
        "n_nationkey": pa.array(nk, type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, type=pa.int32()),
    })
    ck = np.arange(n_cust)
    customer = pa.table({
        "c_custkey": pa.array(ck, type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    price = np.round(900.0 + (pk % 1000) * 0.1, 1)
    names = np.char.add(np.char.add(
        np.array(COLORS)[rng.integers(0, len(COLORS), n_part)], " "),
        np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)])
    part = pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": price,
    })
    ok = np.arange(n_ord)
    odays = rng.integers(_FIRST_ORDER_DAY, _LAST_ORDER_DAY + 1, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(ok, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    lok = np.repeat(ok, lines_per)
    n_li = len(lok)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    lnum = np.arange(n_li) - starts + 1
    lpk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, type=pa.int64()),
        "l_partkey": pa.array(lpk, type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(lnum, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(np.repeat(odays, lines_per)
                                  + rng.integers(1, 122, n_li)),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def digest(corpus_dir: str) -> dict:
    """Per-table rows and bytes plus a content hash of the files."""
    h = hashlib.sha256()
    tables = {}
    for t in TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        with open(p, "rb") as f:
            data = f.read()
        h.update(t.encode())
        h.update(data)
        tables[t] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                     "bytes": len(data)}
    return {"sha256": h.hexdigest()[:16], "tables": tables}


def ensure(root: str, sf: float, seed: int) -> tuple[str, dict]:
    """Build (or reuse) the corpus for (sf, seed); returns (dir, stamp).

    The `_DONE` marker holds the stamp written at build time; a cache
    whose files no longer hash to it is rebuilt."""
    d = os.path.join(root, f"tpch_sf{sf:g}_seed{seed}_v{GENERATOR_VERSION}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest(d):
            return d, stamp
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, d)
    stamp = {"sf": sf, "seed": seed, "generator": GENERATOR_VERSION,
             "digest": digest(d)}
    with open(done, "w") as f:
        json.dump(stamp, f)
    return d, stamp
