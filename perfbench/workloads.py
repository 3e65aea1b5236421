"""Seeded statement generators for the benchmark's workloads.

The engine only ever sees the SQL text these functions return; the seed
never reaches it.  Everything here is pure Python (no Spark), so the
generators can be unit-tested for determinism.

Knobs (module constants; README.md explains how each moves the result):

- BI_FILLER_VDS        filler views created beside the star view, so the
                       catalog has a realistic size
- BI_COVERED_SHARE     share of dashboard statements whose template a
                       reflection covers, exact within every BI_BLOCK
- BI_CLIENTS           closed-loop REST clients
- BI pool size         `len(bi_pool())`, kept above the engine's
                       128-entry plan cache (spark.dremio.plancache.maxsize)
- LAKE_BATCH_ROWS      rows per INSERT batch and per MERGE source
- LAKE_OPTIMIZE_EVERY  OPTIMIZE period, in rounds; the lake client runs
                       whole periods
"""

from __future__ import annotations

import itertools
import random
import re

BI_FILLER_VDS = 60
BI_COVERED_SHARE = 0.8
BI_BLOCK = 10
BI_CLIENTS = 4
LAKE_BATCH_ROWS = 200
LAKE_OPTIMIZE_EVERY = 2

NATIONS = [f"NATION_{i}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# -- bi_dashboard ------------------------------------------------------------
BI_SPACE = "sales"
BI_STAR_VDS = "orders_star"
BI_STAR_SQL = """select l_returnflag, l_linestatus, l_quantity, l_extendedprice,
       l_discount, l_shipdate, o_orderpriority, o_orderstatus, o_orderdate,
       c_mktsegment, n_name, n_regionkey
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey"""
BI_REFLECTIONS = [
    f"ALTER DATASET {BI_SPACE}.{BI_STAR_VDS} CREATE AGGREGATE REFLECTION "
    "r_geo USING DIMENSIONS (n_name, c_mktsegment, o_orderpriority) "
    "MEASURES (l_extendedprice (SUM, COUNT), l_quantity (SUM))",
    f"ALTER DATASET {BI_SPACE}.{BI_STAR_VDS} CREATE AGGREGATE REFLECTION "
    "r_flag USING DIMENSIONS (l_returnflag, l_linestatus, o_orderstatus, "
    "n_regionkey) MEASURES (l_quantity (SUM, COUNT), l_discount (SUM))",
]


def bi_filler(k: int) -> tuple[str, str]:
    """(name, sql) of the k-th filler view."""
    return (f"filler_{k:04d}",
            "select o_orderkey, o_totalprice, o_orderpriority from orders "
            f"where o_custkey % {BI_FILLER_VDS} = {k}")


_V = f"{BI_SPACE}.{BI_STAR_VDS}"


def _covered_templates() -> dict[str, list[str]]:
    """Panel texts a reflection's dimensions and measures cover."""
    geo = [f"select n_name, sum(l_extendedprice) as revenue from {_V} "
           f"where c_mktsegment = '{s}' and o_orderpriority = '{p}' "
           "group by n_name order by n_name"
           for s in SEGMENTS for p in PRIORITIES]
    prio = [f"select o_orderpriority, count(*) as orders from {_V} "
            f"where n_name in ('{a}', '{b}') "
            "group by o_orderpriority order by o_orderpriority"
            for a, b in itertools.combinations(NATIONS, 2)]
    seg = [f"select c_mktsegment, sum(l_quantity) as qty from {_V} "
           f"where n_name = '{n}' group by c_mktsegment order by c_mktsegment"
           for n in NATIONS]
    flag = [f"select l_returnflag, l_linestatus, sum(l_quantity) as qty, "
            f"count(*) as n from {_V} "
            f"where o_orderstatus = '{st}' and n_regionkey = {r} "
            "group by l_returnflag, l_linestatus "
            "order by l_returnflag, l_linestatus"
            for st in "FOP" for r in range(5)]
    # ORDER BY <alias> DESC LIMIT k: covered by r_geo, but the
    # substitution probe fails on this shape on the seed engine and the
    # statement falls back to view expansion (see README.md)
    top = [f"select n_name, sum(l_extendedprice) as revenue from {_V} "
           f"where c_mktsegment = '{s}' group by n_name "
           f"order by revenue desc limit {k}"
           for s in SEGMENTS for k in (3, 5, 10)]
    return {"geo": geo, "prio": prio, "seg": seg, "flag": flag, "top": top}


def _uncovered_templates() -> dict[str, list[str]]:
    """Panel texts no reflection covers: they expand the 4-way join."""
    quarters = []
    for y in range(1995, 2002):
        for q in range(4):
            lo = f"{y}-{3 * q + 1:02d}-01"
            hi = f"{y + (q == 3)}-{(3 * q + 3) % 12 + 1:02d}-01"
            quarters.append(
                f"select c_mktsegment, avg(l_discount) as avg_disc from {_V} "
                f"where o_orderdate >= timestamp '{lo}' "
                f"and o_orderdate < timestamp '{hi}' "
                "group by c_mktsegment order by c_mktsegment")
    months = []
    for y in range(1995, 2002):
        for m in range(1, 13):
            lo = f"{y}-{m:02d}-01"
            hi = f"{y + (m == 12)}-{m % 12 + 1:02d}-01"
            months.append(
                "select l_returnflag, "
                "sum(l_extendedprice * (1 - l_discount)) as net "
                f"from {_V} where l_shipdate >= timestamp '{lo}' "
                f"and l_shipdate < timestamp '{hi}' "
                "group by l_returnflag order by l_returnflag")
    return {"quarter": quarters, "month": months}


def bi_pool() -> dict[str, dict[str, list[str]]]:
    return {"covered": _covered_templates(),
            "uncovered": _uncovered_templates()}


def bi_stream(seed: int, client: int):
    """Endless seeded statement stream of one dashboard client.

    The mix is stratified so that every run sees the same one: each
    block of BI_BLOCK statements holds exactly BI_COVERED_SHARE covered
    ones, templates take turns within their side, and only the literal
    variant and the order inside a block are drawn at random."""
    pool = bi_pool()
    rng = random.Random(f"bi-{seed}-{client}")
    n_cov = round(BI_BLOCK * BI_COVERED_SHARE)
    turns = {side: itertools.cycle(sorted(t)) for side, t in pool.items()}
    while True:
        block = (["covered"] * n_cov
                 + ["uncovered"] * (BI_BLOCK - n_cov))
        rng.shuffle(block)
        for side in block:
            name = next(turns[side])
            yield side, name, rng.choice(pool[side][name])


def bi_duckdb_sql(sql: str) -> str:
    """The panel text over a DuckDB view that holds the VDS definition."""
    return sql.replace(_V, f"{BI_SPACE}__{BI_STAR_VDS}")


# -- lake_ingest ----------------------------------------------------------------
LAKE_FORMATS = ("delta", "iceberg")
# new keys of round r live at (r + 1) * KEY_STRIDE + source key
KEY_STRIDE = 10_000_000
LAKE_READ_SQL = ("select o_orderpriority, count(*) as n, "
                 "sum(o_totalprice) as total from {t} "
                 "group by o_orderpriority order by o_orderpriority")
LAKE_REFLECTION = ("ALTER TABLE {t} CREATE AGGREGATE REFLECTION {name} "
                   "USING DIMENSIONS (o_orderpriority) "
                   "MEASURES (o_totalprice (SUM, COUNT))")


def lake_round(seed: int, r: int, n_orders: int) -> list[tuple]:
    """The statements of round r, per table format, as (verb, params).

    INSERT adds a fresh key range; UPDATE and DELETE hit a random base
    key range; MERGE upserts a source half of whose keys the round's
    INSERT just added (matched -> update) and half new (-> insert)."""
    rng = random.Random(f"lake-{seed}-{r}")
    b = LAKE_BATCH_ROWS
    out = []
    for fmt in LAKE_FORMATS:
        a = rng.randrange(0, n_orders - 2 * b)
        off = (r + 1) * KEY_STRIDE
        u = rng.randrange(0, n_orders - b)
        x = rng.randrange(0, n_orders - b)
        out += [
            (fmt, "insert", {"lo": a, "hi": a + b, "off": off}),
            (fmt, "update", {"lo": u, "hi": u + b,
                             "delta": rng.randint(1, 99)}),
            (fmt, "delete", {"lo": x, "hi": x + b // 2}),
            (fmt, "merge", {"lo": a + b // 2, "hi": a + b + b // 2,
                            "off": off}),
            (fmt, "read", {}),
        ]
        if (r + 1) % LAKE_OPTIMIZE_EVERY == 0:
            out.append((fmt, "optimize", {}))
    return out


def lake_user_rows(verb: str, params: dict) -> int:
    """Rows the user hands the table: INSERT batches and MERGE sources."""
    return params["hi"] - params["lo"] if verb in ("insert", "merge") else 0


def _src(p: dict, price: str = "o_totalprice") -> str:
    return (f"select o_orderkey + {p['off']} as o_orderkey, o_custkey, "
            f"o_orderstatus, {price} as o_totalprice, o_orderdate, "
            f"o_orderpriority from orders "
            f"where o_orderkey >= {p['lo']} and o_orderkey < {p['hi']}")


def lake_engine_sql(verb: str, p: dict, path: str, fmt: str) -> str:
    t = f"'{path}'"
    if verb == "insert":
        if fmt == "iceberg":
            # the Iceberg CTAS stores o_orderdate as TIMESTAMP while the
            # source column is TIMESTAMP_NTZ, and the plain INSERT fails
            # on the seed engine (DEFECT_PROBES[0]); users cast
            return (f"INSERT INTO {t} "
                    + _src(p).replace(", o_orderdate,",
                                      ", cast(o_orderdate as timestamp),"))
        return f"INSERT INTO {t} {_src(p)}"
    if verb == "update":
        return (f"UPDATE {t} SET o_totalprice = o_totalprice + {p['delta']} "
                f"WHERE o_orderkey >= {p['lo']} AND o_orderkey < {p['hi']}")
    if verb == "delete":
        return (f"DELETE FROM {t} WHERE o_orderkey >= {p['lo']} "
                f"AND o_orderkey < {p['hi']}")
    if verb == "merge":
        # the engine documents t./s. as the target/source aliases
        return (f"MERGE INTO {t} USING ({_src(p, 'o_totalprice * 2')}) s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *")
    if verb == "read":
        return LAKE_READ_SQL.format(t=t)
    if verb == "optimize":
        return f"OPTIMIZE TABLE {t}"
    raise ValueError(verb)


def lake_duckdb_sql(verb: str, p: dict, table: str) -> list[str]:
    """The same statement for DuckDB 1.0 on a plain table.  DuckDB 1.0
    has no MERGE: a key-unique source replays as UPDATE..FROM plus an
    anti-join INSERT.  OPTIMIZE changes no rows, so it replays as
    nothing."""
    if verb == "insert":
        return [f"INSERT INTO {table} {_src(p)}"]
    if verb in ("update", "delete"):
        return [re.sub(r"'[^']*'", table,
                       lake_engine_sql(verb, p, "", "delta"), 1)]
    if verb == "merge":
        src = _src(p, "o_totalprice * 2")
        return [f"UPDATE {table} SET o_custkey = s.o_custkey, "
                "o_orderstatus = s.o_orderstatus, "
                "o_totalprice = s.o_totalprice, o_orderdate = s.o_orderdate, "
                f"o_orderpriority = s.o_orderpriority FROM ({src}) s "
                f"WHERE {table}.o_orderkey = s.o_orderkey",
                f"INSERT INTO {table} SELECT * FROM ({src}) s WHERE NOT "
                f"EXISTS (SELECT 1 FROM {table} WHERE "
                f"{table}.o_orderkey = s.o_orderkey)"]
    if verb == "read":
        return [LAKE_READ_SQL.format(t=table)]
    if verb == "optimize":
        return []
    raise ValueError(verb)


# Statements that fail on the seed engine.  They run once per lake run,
# outside the timed region, so each defect is reported on every run
# while the timed rounds stay free of failing operations.
DEFECT_PROBES = [
    ("iceberg INSERT..SELECT of a TIMESTAMP_NTZ column into a CTAS table",
     "iceberg",
     "INSERT INTO {t} " + _src({"lo": 0, "hi": 5, "off": 9 * KEY_STRIDE})),
    ("MERGE with a user-chosen source alias",
     "delta",
     "MERGE INTO {t} USING (select o_orderkey, o_totalprice from orders "
     "where o_orderkey < 5) src ON t.o_orderkey = src.o_orderkey "
     "WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice"),
]
