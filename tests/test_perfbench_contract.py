"""The engine surface the benchmark in `perfbench/` depends on.

`perfbench/tracing.py` wraps every name in `tracing.WRAPPED`, looking
each up in its owner's `__dict__`, and `perfbench/run.py` reads a few
`Engine` attributes.  Deleting or renaming any of them breaks every
traced or untraced benchmark run, so this test pins them."""

from __future__ import annotations

import importlib
import os
import sys

_PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_traced_names_resolve_like_tracer_install():
    """Every wrapped (module, owner, attribute) resolves through the
    owner's `__dict__`, the lookup `Tracer.install` makes."""
    sys.path.insert(0, _PERFBENCH)
    try:
        import tracing
    finally:
        sys.path.remove(_PERFBENCH)
    missing = []
    for mod_name, owner, attr, _span in tracing.WRAPPED:
        mod = importlib.import_module(mod_name)
        target = getattr(mod, owner) if owner else mod
        if attr not in vars(target):
            missing.append(f"{mod_name}.{owner or ''}.{attr}")
    assert not missing, missing


def test_engine_attributes_the_runner_reads(spark):
    """The `Engine` attributes `perfbench/run.py` reads
    (`last_plan_accelerated` once a statement has run)."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("select 1 as one").collect()
    for attr in ("last_plan_accelerated", "plan_cache_hits",
                 "add_testdata_source", "create_vds"):
        assert hasattr(eng, attr), attr
