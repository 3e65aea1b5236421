"""Unit tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import corpus  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import workloads as wl  # noqa: E402


# -- percentile rule -------------------------------------------------------------
def test_percentile_needs_ten_samples_beyond():
    assert measure.reportable(100, 90)
    assert not measure.reportable(99, 90)
    assert measure.reportable(20, 50)
    assert not measure.reportable(19, 50)
    assert measure.reportable(1000, 99)
    assert not measure.reportable(999, 99)
    assert measure.highest_reportable(150) == 90
    assert measure.highest_reportable(60) == 75
    assert measure.highest_reportable(25) == 50
    assert measure.highest_reportable(19) is None


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_summarize_omits_unsupported_tail():
    s = measure.summarize([float(i) for i in range(30)])
    assert s["n"] == 30 and s["p50"] == 14.0 and "tail" not in s
    s = measure.summarize([float(i) for i in range(100)])
    assert s["tail_p"] == 90 and s["tail"] == 89.0


# -- self time ----------------------------------------------------------------------
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_merged_children_clipped_to_parent():
    spans = [_span(1, None, 0.0, 10.0),
             _span(2, 1, 1.0, 3.0),
             _span(3, 1, 2.0, 5.0),     # overlaps span 2
             _span(4, 1, 8.0, 12.0),    # runs past its parent
             _span(5, 2, 1.5, 2.5)]     # grandchild: only span 2 loses it
    st = measure.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(1.0)


def test_self_times_sum_to_root_duration_for_nested_spans():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 6.0),
             _span(3, 2, 3.0, 4.0)]
    assert sum(measure.self_times(spans).values()) == pytest.approx(10.0)


# -- generators are deterministic ----------------------------------------------------
def test_bi_stream_is_deterministic_per_seed():
    a = list(itertools.islice(wl.bi_stream(7, 0), 200))
    b = list(itertools.islice(wl.bi_stream(7, 0), 200))
    c = list(itertools.islice(wl.bi_stream(8, 0), 200))
    d = list(itertools.islice(wl.bi_stream(7, 1), 200))
    assert a == b
    assert a != c and a != d


def test_bi_pool_exceeds_plan_cache_and_covered_share_holds():
    pool = wl.bi_pool()
    texts = [t for side in pool.values() for ts in side.values() for t in ts]
    assert len(set(texts)) == len(texts) > 128
    draws = list(itertools.islice(wl.bi_stream(3, 0), 10 * wl.BI_BLOCK))
    share = sum(side == "covered" for side, _, _ in draws) / len(draws)
    assert share == wl.BI_COVERED_SHARE
    # templates take turns within their side
    for side, templates in pool.items():
        counts = {n: sum(1 for sd, nm, _ in draws if (sd, nm) == (side, n))
                  for n in templates}
        assert len(set(counts.values())) == 1, counts


def test_lake_rounds_are_deterministic():
    assert wl.lake_round(5, 3, 15000) == wl.lake_round(5, 3, 15000)
    assert wl.lake_round(5, 3, 15000) != wl.lake_round(6, 3, 15000)


def test_lake_round_shape():
    stmts = wl.lake_round(1, wl.LAKE_OPTIMIZE_EVERY - 1, 15000)
    verbs = [v for fmt, v, _ in stmts if fmt == "delta"]
    assert verbs == ["insert", "update", "delete", "merge", "read",
                     "optimize"]
    ins = next(p for _, v, p in stmts if v == "insert")
    mrg = next(p for _, v, p in stmts if v == "merge")
    # half the MERGE source matches the round's INSERT, half is new
    assert mrg["lo"] - ins["lo"] == wl.LAKE_BATCH_ROWS // 2
    assert wl.lake_user_rows("insert", ins) == wl.LAKE_BATCH_ROWS


def test_duckdb_replay_of_merge_is_update_then_anti_insert():
    p = {"lo": 0, "hi": 10, "off": 5}
    upd, ins = wl.lake_duckdb_sql("merge", p, "t_delta")
    assert upd.startswith("UPDATE t_delta SET") and "NOT EXISTS" in ins
    assert wl.lake_duckdb_sql("optimize", {}, "t_delta") == []
    assert "'" not in wl.lake_duckdb_sql(
        "delete", {"lo": 1, "hi": 2}, "t_delta")[0]


def test_corpus_is_deterministic_and_foreign_keys_hold():
    a = corpus.generate(0.0005, 11)
    b = corpus.generate(0.0005, 11)
    assert all(a[t].equals(b[t]) for t in corpus.TABLES)
    li, orders = a["lineitem"].to_pydict(), a["orders"].to_pydict()
    assert set(li["l_orderkey"]) <= set(orders["o_orderkey"])
    assert set(orders["o_custkey"]) <= set(
        a["customer"].column("c_custkey").to_pylist())


# -- comparator -----------------------------------------------------------------------
def test_comparator_flags_a_wrong_result():
    want = [("NATION_1", 10.0), ("NATION_2", 20.0)]
    assert oracle.diff([("NATION_2", 20.0), ("NATION_1", 10.0)], want) is None
    assert oracle.diff([("NATION_1", 10.0), ("NATION_2", 20.5)], want)
    assert oracle.diff([("NATION_1", 10.0)], want)
    assert oracle.diff([("NATION_1", 10.0), ("NATION_3", 20.0)], want)


def test_comparator_tolerates_summation_order_and_rest_decimals():
    want = [(1723353.1, 647)]
    assert oracle.diff([(1723353.1000000003, 647)], want) is None
    assert oracle.diff([{"revenue": "1723353.1000", "n": 647}], want) is None
    assert oracle.diff([{"revenue": "1723353.2000", "n": 647}], want)
    assert oracle.diff([("1-URGENT",)], [("1-URGENT",)]) is None
